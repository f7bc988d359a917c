package graft.collab

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** End-to-end parity gate, mirroring the reference's only test
  * (ref: CollabFilterTest.java:23-39): full pipeline on the reference's
  * 120-row CSV, RMSE within [0, 0.5). Seeded, so also assert a tight
  * regression band once observed. */
class PipelineSpec extends SparkSpec {
  private val csv = getClass.getResource("/ratings.csv").getPath

  /** Jobs started while `body` runs. */
  private def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val out = fenced(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!SparkSpec.isFence(e)) jobs.incrementAndGet()
    })(body)
    (out, jobs.get)
  }

  test("model save/load round-trip: identical predictions") {
    // also the scorer's spec: it matches transform bit for bit, drops
    // unseen ids and scores each row once
    import spark.implicits._
    val parsed = Ingest.parseCsv(spark, csv)
    val train = Ingest.selectSet(parsed, Schemas.TrainTag)
    val valid = Ingest.selectSet(parsed, Schemas.ValidationTag)

    def preds(m: org.apache.spark.ml.recommendation.ALSModel, v: DataFrame) =
      Scoring.scored(m, v).orderBy(Schemas.UserCol, Schemas.ProductCol)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(3))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("als-model")
    try Training.train(train, maxIter = 5) { model =>
      Training.save(model, dir.toString)
      val scored = preds(model, valid)
      assert(scored === preds(Training.load(dir.toString), valid))

      // ALS's own float dot, cast to double: bit-identical to transform
      // on every reference validation pair
      val viaTransform = model.transform(
          valid.select(Schemas.UserCol, Schemas.ProductCol))
        .collect().map(r => (r.getInt(0), r.getInt(1)) ->
          java.lang.Double.doubleToLongBits(r.getFloat(2).toDouble)).toMap
      assert(scored.length === 9)
      assert(scored.map { case (u, p, d) =>
        (u, p) -> java.lang.Double.doubleToLongBits(d) }.toMap === viaTransform)

      // unseen user and unseen product drop, like coldStartStrategy=drop
      val (u, p, _) = scored.head
      val probe = Seq((u, p, 1.0), (999999, p, 1.0), (u, 999999, 1.0))
        .toDF(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol)
      assert(preds(model, probe).map(r => (r._1, r._2)) === Seq((u, p)))

      // a duplicated validation row is scored twice, not squared
      val dup = Seq((u, p, 1.0), (u, p, 1.0))
        .toDF(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol)
      assert(Scoring.scored(model, dup).count() === 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("e2e: populate -> train -> predict -> validate -> report, RMSE in [0, 0.5)") {
    // a fresh copy of the CSV, as a refit reads a new batch, so no earlier
    // test's cache of the same plan is reused
    val dir = java.nio.file.Files.createTempDirectory("graft-wh")
    try {
      val batch = dir.resolve("ratings.csv")
      java.nio.file.Files.copy(java.nio.file.Paths.get(csv), batch)
      val warehouse = s"$dir/wh"
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val (result, jobs) = jobsOf(
        Pipeline.run(spark, new ParquetTableStore(spark, warehouse), batch.toString))

      assert(result.rmse >= 0.0, "RMSE must be non-negative")
      assert(result.rmse < 0.5, s"Excess root mean square error: ${result.rmse}")

      val lines = result.report.split("\n")
      assert(lines.head === Report.Header)
      assert(lines.length === 11, "9 validation rows + header + RMSE footer")
      assert(lines.last.startsWith("RMSE = "))

      // 2 store appends, 9 fit jobs, then one scoring plan whose two
      // broadcasts and one collect give both RMSE and report
      assert(jobs === 14)

      // the round released everything it persisted: the cached CSV parse
      // and the model's factor RDDs
      val left = sc.getPersistentRDDs.collect {
        case (id, rdd) if !before(id) => s"$id: ${rdd.name}"
      }
      assert(left.isEmpty, left)

      // store round-trip happened: both tables populated
      val store = new ParquetTableStore(spark, warehouse)
      assert(store.scan(Schemas.RatingsTable).count() === 111)
      assert(store.scan(Schemas.ValidationTable).count() === 9)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
