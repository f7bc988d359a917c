package graft.collab

import graft.SparkSpec

/** End-to-end parity gate, mirroring the reference's only test
  * (ref: CollabFilterTest.java:23-39): full pipeline on the reference's
  * 120-row CSV, RMSE within [0, 0.5). Seeded, so also assert a tight
  * regression band once observed. */
class PipelineSpec extends SparkSpec {
  private val csv = getClass.getResource("/ratings.csv").getPath

  test("model save/load round-trip: identical predictions") {
    val parsed = Ingest.parseCsv(spark, csv)
    val train = Ingest.selectSet(parsed, Schemas.TrainTag)
    val valid = Ingest.selectSet(parsed, Schemas.ValidationTag)
      .select(Schemas.UserCol, Schemas.ProductCol)

    val model = Training.train(train, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("als-model").toString
    Training.save(model, dir)
    val reloaded = Training.load(dir)

    def preds(m: org.apache.spark.ml.recommendation.ALSModel) =
      Scoring.predict(m, valid).orderBy(Schemas.UserCol, Schemas.ProductCol)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(preds(model).toSeq === preds(reloaded).toSeq)
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
      val result = Pipeline.run(spark, new ParquetTableStore(spark, warehouse), batch.toString)

      assert(result.rmse >= 0.0, "RMSE must be non-negative")
      assert(result.rmse < 0.5, s"Excess root mean square error: ${result.rmse}")

      val lines = result.report.split("\n")
      assert(lines.head === Report.Header)
      assert(lines.length === 11, "9 validation rows + header + RMSE footer")
      assert(lines.last.startsWith("RMSE = "))

      // the round released its cached CSV parse
      val csvCaches = sc.getPersistentRDDs.collect {
        case (id, rdd) if !before(id) && Option(rdd.name).exists(_.contains("FileScan text")) =>
          s"$id: ${rdd.name}"
      }
      assert(csvCaches.isEmpty, csvCaches)

      // store round-trip happened: both tables populated
      val store = new ParquetTableStore(spark, warehouse)
      assert(store.scan(Schemas.RatingsTable).count() === 111)
      assert(store.scan(Schemas.ValidationTable).count() === 9)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
