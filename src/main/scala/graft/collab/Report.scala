package graft.collab

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Human-readable results report and the RMSE it ends with
  * (ref: CollabFilterCassandra8.java:45-77): header, one line per
  * prediction sorted by (user, product) with predicted and actual rounded
  * to 1 decimal and an ERR/OK flag (|actual − predicted| ≥ 1 → ERR),
  * footer `RMSE = x.xx`.
  *
  * The reference joins validations to predictions twice — distributed for
  * the RMSE, then again on the driver for the report after collecting
  * both sides into a Java HashMap (8.java:48 vs :63-69). Here the scored
  * frame ([[Scoring.scored]]) already holds the match, and one collect
  * brings back each row's (user, product, report line, squared error):
  * both outputs derive from that one pass (SURVEY §4). Report size =
  * |validation|, which for a report a human reads is bounded by
  * construction; that bound is also what lets [[Scoring]] broadcast the
  * validation side.
  */
object Report {
  import Schemas._

  final case class Result(rmse: Double, report: String)

  val Header = "User\tProduct\tPredicted\tActual\tError?"

  /** The report and RMSE of `scored` (user, product, rating, prediction),
    * from one collect. Lines are formatted in Spark
    * (≙ P7 + F2 + C1 — SURVEY §2.3; round() is half-up like Java's
    * Math.round on the positive rating domain, §2.8 C1) and sorted on the
    * driver (≙ O1), ties broken by the line and then the error so the
    * order is total. The RMSE, sqrt(mean((actual − predicted)²))
    * (≙ P6 + A1 + A2), sums the squared errors in that sorted order, so it
    * does not depend on the order partitions arrive in.
    *
    * @param roundName names the round in the failure raised when no
    *                  validation row was scored */
  def of(scored: DataFrame, roundName: String): Result = {
    val err = col(RatingCol) - col(PredictionCol)
    val rows = scored
      .select(col(UserCol), col(ProductCol),
        format_string("%d\t%d\t%s\t\t%s\t%s",
          col(UserCol), col(ProductCol),
          round(col(PredictionCol), 1).cast("string"),
          round(col(RatingCol), 1).cast("string"),
          when(abs(err) >= 1, "ERR").otherwise("OK")),
        pow(err, lit(2)))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .sorted(Ordering.Tuple4(Ordering.Int, Ordering.Int, Ordering.String,
        Ordering.Double.TotalOrdering))
    if (rows.isEmpty) throw new IllegalStateException(
      s"round $roundName: no validation row was scored, so there is no " +
        "RMSE to report")
    val rmse = math.sqrt(rows.map(_._4).sum / rows.length)
    val rmseLine = f"RMSE = ${Util.round(rmse, 2)}%s"
    Result(rmse, (Header +: rows.map(_._3) :+ rmseLine).mkString("\n"))
  }
}
