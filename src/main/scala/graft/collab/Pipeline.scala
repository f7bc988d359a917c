package graft.collab

import org.apache.spark.sql.SparkSession

/** End-to-end orchestration (ref: CollabFilterCassandraDriver.main /
  * trainAndValidate, Driver.java:33-69): truncate → populate from CSV →
  * train → predict → validate → report.
  *
  * Single-pass dataflow: the CSV is read once and cached for both store
  * appends, then released. After the fit, the validation rows are scored,
  * and the RMSE and the report derived, from one plan and one collect:
  * the validation table is scanned once and matched to the predictions
  * once, where the reference scans it three times and joins twice
  * (SURVEY §4). Nothing else is cached. The model is used only inside
  * [[Training.train]]'s block, which unpersists its factor RDDs when the
  * block returns, so a round leaves nothing persisted.
  *
  * Each validation row is scored once, so duplicate (user, product)
  * validation rows give one report line each ([[Scoring]]).
  */
object Pipeline {
  /** @param modelDir when set, the trained ALSModel is persisted there
    *                  (train once, score many — see Training.save) */
  def run(spark: SparkSession, store: TableStore, csvPath: String,
      seed: Long = Training.DefaultSeed,
      modelDir: Option[String] = None): Report.Result = {
    // ETL: CSV → store (≙ truncate + populateTables)
    Ingest.populate(spark, store, csvPath)

    // Read back through the store, as the reference does (train/validate
    // always scan Cassandra, not the CSV lineage).
    val train = store.scan(Schemas.RatingsTable)
      .select(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol)
    val valid = store.scan(Schemas.ValidationTable)
      .select(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol)

    Training.train(train, seed = seed) { model =>
      modelDir.foreach(Training.save(model, _))
      Report.of(Scoring.scored(model, valid), csvPath)
    }
  }
}
