package graft.collab

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** CSV ingestion: read the ratings CSV once, split into train ("I,") and
  * validation ("V,") sets, attach a uuid row id, and land both in the store
  * (ref: CollabFilterCassandraDriver.java:86-134, RatingDO.java:14-15,29-31).
  *
  * Deltas from the reference, by design (SURVEY §4):
  *   - The reference reads the CSV twice (once per prefix). We read once and
  *     derive both splits from a cached DataFrame — at 100 TB a second full
  *     scan is the difference between one pass and two.
  *   - Malformed numeric fields throw (ANSI casts, default-on in Spark 4),
  *     matching the reference's parseInt/parseDouble throw-on-garbage
  *     (CollabFilterCassandraDriver.java:132).
  *   - Trailing spreadsheet-generator columns 4..10 are ignored, like the
  *     reference's split()[1..3] access.
  */
object Ingest {

  /** Parse raw CSV lines into (set, user, product, rating).
    * Line-split semantics mirror the reference's `line.split(",")`. */
  def parseCsv(spark: SparkSession, path: String): DataFrame = {
    val parts = split(col("value"), ",")
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(
        parts.getItem(0).as("set"),
        parts.getItem(1).cast(IntegerType).as(Schemas.UserCol),
        parts.getItem(2).cast(IntegerType).as(Schemas.ProductCol),
        parts.getItem(3).cast(DoubleType).as(Schemas.RatingCol))
  }

  /** Split a parsed CSV frame by tag (≙ FilterCsv, Driver.java:110-121). */
  def selectSet(parsed: DataFrame, tag: String): DataFrame =
    parsed.filter(col("set") === tag)
      .select(Schemas.UserCol, Schemas.ProductCol, Schemas.RatingCol)

  /** Attach the store-layer row id (≙ UUIDs.timeBased(), RatingDO.java:30).
    * Identity only — never read by any query (SURVEY §1.3). */
  def withRowId(df: DataFrame): DataFrame =
    df.select(expr("uuid()").as(Schemas.IdCol),
      col(Schemas.UserCol), col(Schemas.ProductCol), col(Schemas.RatingCol))

  /** Full ETL: CSV → store.{ratings, validation}
    * (≙ populateTables, Driver.java:86-92). The parsed CSV is cached for
    * the two appends and released once both have run. */
  def populate(spark: SparkSession, store: TableStore, csvPath: String): Unit = {
    val parsed = parseCsv(spark, csvPath).cache()
    val train = selectSet(parsed, Schemas.TrainTag)
    val valid = selectSet(parsed, Schemas.ValidationTag)
    store.create(Schemas.RatingsTable, Schemas.storedRatingSchema)
    store.create(Schemas.ValidationTable, Schemas.storedRatingSchema)
    store.append(Schemas.RatingsTable, withRowId(train))
    store.append(Schemas.ValidationTable, withRowId(valid))
    parsed.unpersist()
  }
}
