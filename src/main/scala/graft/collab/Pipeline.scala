package graft.collab

import org.apache.spark.sql.SparkSession

/** End-to-end orchestration (ref: CollabFilterCassandraDriver.main /
  * trainAndValidate, Driver.java:33-69): truncate → populate from CSV →
  * train → predict → validate → report.
  *
  * Single-pass dataflow: the CSV is read once and cached for both store
  * appends, then released; the validation set is read once and cached,
  * and the validation ⋈ prediction join is computed once and reused for
  * both RMSE and the report — the reference scans the validation table
  * three times and joins twice (SURVEY §4). Both caches are released
  * before the round returns, and so are the model's factor RDDs: the
  * model is used only inside [[Training.train]]'s block, which
  * unpersists them when the block returns.
  */
object Pipeline {
  final case class Result(rmse: Double, report: String)

  /** @param modelDir when set, the trained ALSModel is persisted there
    *                  (train once, score many — see Training.save) */
  def run(spark: SparkSession, store: TableStore, csvPath: String,
      seed: Long = Training.DefaultSeed,
      modelDir: Option[String] = None): Result = {
    // ETL: CSV → store (≙ truncate + populateTables)
    Ingest.populate(spark, store, csvPath)

    // Read back through the store, as the reference does (train/validate
    // always scan Cassandra, not the CSV lineage).
    val train = store.scan(Schemas.RatingsTable)
      .select(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol)
    val valid = store.scan(Schemas.ValidationTable)
      .select(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol)
      .cache()

    Training.train(train, seed = seed) { model =>
      modelDir.foreach(Training.save(model, _))
      val predictions = Scoring.predict(model,
        valid.select(Schemas.UserCol, Schemas.ProductCol))
      val joined = Validation.joined(valid, predictions).cache()
      val rmse = Validation.rmse(joined)
      val report = Report.resultsReport(joined, rmse)
      joined.unpersist(); valid.unpersist()
      Result(rmse, report)
    }
  }
}
