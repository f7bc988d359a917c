package graft.collab

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Exact-math fixtures from FIXTURES.md §3 — no ML involved. */
class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Int, Int, Double)*) =
    rows.toDF("user", "product", "rating")
  private def pred(rows: (Int, Int, Double)*) =
    rows.toDF("user", "product", "prediction")
  private def rmse(preds: DataFrame, valid: DataFrame) =
    Report.of(Validation.joined(valid, preds), "fixture").rmse

  test("hand-computed RMSE fixture: join drops unmatched, rmse = sqrt(1/2)") {
    val valid = df((1, 1, 4.0), (1, 2, 2.0), (2, 1, 5.0))
    val preds = pred((1, 1, 3.0), (1, 2, 2.0), (2, 2, 9.9))
    val joined = Validation.joined(valid, preds)
    assert(joined.count() === 2)
    val rmse = Report.of(joined, "fixture").rmse
    assert(math.abs(rmse - math.sqrt(0.5)) < 1e-12)
  }

  test("RMSE is 0 when predictions equal actuals") {
    val valid = df((1, 1, 4.0), (2, 2, 1.0))
    val preds = pred((1, 1, 4.0), (2, 2, 1.0))
    assert(rmse(preds, valid) === 0.0)
  }

  test("RMSE invariant under row order") {
    val valid = df((1, 1, 4.0), (1, 2, 2.0), (2, 1, 5.0))
    val predsA = pred((1, 1, 3.0), (1, 2, 2.5), (2, 1, 4.0))
    val predsB = pred((2, 1, 4.0), (1, 1, 3.0), (1, 2, 2.5))
    assert(rmse(predsA, valid) === rmse(predsB, valid))
  }

  test("join cardinality bounded by min side (unique keys)") {
    val valid = df((1, 1, 4.0), (1, 2, 2.0), (2, 1, 5.0), (3, 3, 3.0))
    val preds = pred((1, 1, 3.0))
    assert(Validation.joined(valid, preds).count() === 1)
  }
}

class ReportSpec extends SparkSpec {
  import spark.implicits._

  test("report formats rows sorted by (user, product) with ERR/OK + RMSE footer") {
    val joined = Seq(
      (2, 1, 5.0, 3.4),  // |5.0-3.4| >= 1 -> ERR
      (1, 2, 2.0, 2.04), // -> OK, pred rounds to 2.0
      (1, 1, 4.0, 3.96)  // -> OK
    ).toDF("user", "product", "rating", "prediction")
    val result = Report.of(joined, "fixture")
    val lines = result.report.split("\n")
    assert(lines(0) === "User\tProduct\tPredicted\tActual\tError?")
    assert(lines(1) === "1\t1\t4.0\t\t4.0\tOK")
    assert(lines(2) === "1\t2\t2.0\t\t2.0\tOK")
    assert(lines(3) === "2\t1\t3.4\t\t5.0\tERR")
    // the footer is the rows' own RMSE: sqrt((1.6² + 0.04² + 0.04²) / 3)
    assert(math.abs(result.rmse - math.sqrt(2.5632 / 3)) < 1e-12)
    assert(lines(4) === "RMSE = 0.92")
    assert(lines.length === 5)
  }

  test("no scored validation row: the report names the round and says so") {
    val empty = Seq.empty[(Int, Int, Double, Double)]
      .toDF("user", "product", "rating", "prediction")
    val ex = intercept[IllegalStateException](Report.of(empty, "batch-7.csv"))
    assert(ex.getMessage ===
      "round batch-7.csv: no validation row was scored, so there is no " +
        "RMSE to report")
  }

  test("Util.round is half-up, 1 place default") {
    assert(Util.round(0.15) === 0.2)
    assert(Util.round(0.14999) === 0.1)
    assert(Util.round(2.345, 2) === 2.35)
    assert(Util.round(0.123, 2) === 0.12)
  }
}
