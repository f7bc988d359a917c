package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.collab.{Training, Validation}

/** The reference's ALS pipeline applied to the harness `events` table
  * (user_id × event_type × value ≙ user × product × rating, per
  * FIXTURES.md §4). Train/holdout split is value-derived (event_id mod 10)
  * like the reference's I/V row tags.
  *
  * Train once, score many: the family fits ALS once per (application,
  * corpus) — the standing model of [[standingModelPath]] — and every
  * query scores that model. [[alsScoreFromSaved]] is fully oracled from
  * the saved factors; [[alsRmse]] and [[alsRecommend]] stay rows-only
  * (the fit is not SQL-expressible — SURVEY §7.4.6) and are gated by
  * threshold/seeded tests in CollabEventsSpec.
  */
object CollabEvents {

  /** Dense Int user index for ml.ALS: ALS hard-requires Int user/item
    * columns, but warehouse-scale user ids are 64-bit — a raw `cast(...
    * AS int)` silently works at small SF and OVERFLOWS past 2^31
    * (surfaced by the ×10 ScaleUp replica, whose per-copy key offset
    * produces ids like 6000000235). The production prep is id
    * compaction: sort-distinct + zipWithIndex — fully distributed (no
    * single-partition ranking window), deterministic (index = rank in
    * user_id order), failing fast at ALS's 2^31 cardinality ceiling.
    * Cost note: the global sort is O(|users| log |users|) on the DISTINCT
    * user set, not O(events) — it exists only to make the index
    * deterministic (any stable order works); a deployment indifferent to
    * determinism could drop the orderBy and save the sort exchange.
    * Returns (user_id BIGINT, user INT). */
  private[ops] def userIndex(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    val rdd = ev.select(col("user_id")).distinct().orderBy(col("user_id"))
      .rdd.zipWithIndex.map { case (r, i) =>
        require(i < Int.MaxValue, "ml.ALS caps distinct users at 2^31")
        org.apache.spark.sql.Row(r.getLong(0), i.toInt)
      }
    s.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("user",
        org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** events → typed ratings: dense int user id (via [[userIndex]] — the
    * original 64-bit `user_id` rides along for output map-back), dense int
    * product id per event_type (deterministic alphabetical indexing),
    * double rating. */
  def ratingsFromEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val typeIds = ev.select(col("event_type")).distinct()
      .withColumn("product",
        (row_number().over(Window.orderBy(col("event_type"))) - 1))
    ev.join(broadcast(typeIds), "event_type")
      .join(userIndex(ev), "user_id")
      .select(col("event_id"), col("user"), col("user_id"),
        col("product"), col("value").as("rating"))
  }

  /** The train/valid split, value-derived like the reference's I/V row
    * tags: an event trains when `event_id mod 10 < 8` and validates
    * otherwise. */
  private def isTrain: Column = pmod(col("event_id"), lit(10)) < 8

  /** Dense fit id → original 64-bit `user_id`, to map outputs back. */
  private def userIds(ratings: DataFrame): DataFrame =
    ratings.select(col("user"), col("user_id")).distinct()

  /** Persisted trained-model artifact (the MODEL twin of the standing
    * indexes — [[graft.sources.IndexStore]]'s discipline applied to
    * [[graft.collab.Training.save]]) and the family's only ALS fit: it
    * trains + saves ONCE per (application, corpus) through
    * [[graft.State.built]], and every query of the family scores the
    * frozen factor matrices from parquet. This is the one reference
    * behavior (model reuse — the reference keeps its
    * MatrixFactorizationModel in memory across predict calls) a real
    * pipeline does via storage. */
  private def standingModelPath(s: SparkSession, dir: String): String =
    graft.State.built(s, "model", dir) { p =>
      val train = ratingsFromEvents(s, dir).filter(isTrain)
        .select("user", "product", "rating")
      Training.train(train, maxIter = 10)(Training.save(_, p))
    }

  /** The standing model as a scorer of a ratings frame: its distinct
    * validation pairs scored, `prediction` per (user, product), dense user
    * ids, plus the factor columns `__uf`/`__pf` the consumers' projections
    * prune. Inner joins: a pair whose user or product the fit never saw
    * drops, as `coldStartStrategy=drop` drops it. Each pair is scored
    * once — events repeat (user, product), and a duplicate-keyed join
    * would fan out m×n (unlike the reference's unique-keyed validation
    * table). The factor frames are built when the scorer is, before the
    * caller builds its ratings frame, so their expression ids come first;
    * AQE numbers cf_als_score_saved's query stages in that order.
    *
    * Scoring is a direct factor-table join + native vec_dot, NOT
    * `ALSModel.transform`: the artifact path should be a declarative
    * codegen plan (two equi-joins — item factors broadcast-small — and a
    * fused dot loop), not a Scala-UDF epilogue; and the strict double
    * left-fold makes the prediction exactly replayable by the DuckDB
    * oracle's left-associated term chain, which ALS's float sdot (BLAS-
    * backend-dependent accumulation) is not. The float→double factor cast
    * is exact, so this IS the saved model's score up to summation
    * precision; round-trip bit-exactness of the factors themselves is
    * spec-asserted in CollabEventsSpec. */
  private def scorer(s: SparkSession, dir: String): DataFrame => DataFrame = {
    graft.functions.VecDot.register(s)
    val path = standingModelPath(s, dir)
    val uf = s.read.parquet(s"$path/userFactors")
      .select(col("id").as("user"),
        col("features").cast("array<double>").as("__uf"))
    val pf = s.read.parquet(s"$path/itemFactors")
      .select(col("id").as("product"),
        col("features").cast("array<double>").as("__pf"))
    ratings => ratings.filter(!isTrain).select("user", "product").distinct()
      .join(uf, "user")
      .join(broadcast(pf), "product")
      .withColumn("prediction", expr("vec_dot(__uf, __pf)"))
  }

  /** Score the V split from the standing model, return one summary row:
    * (rmse, n_train, n_valid, n_scored) — one aggregate over every rating
    * left-joined to its pair's score. */
  def alsRmse(s: SparkSession, dir: String): DataFrame = {
    val score = scorer(s, dir)
    val ratings = ratingsFromEvents(s, dir).cache()
    val isValid = !isTrain
    val out = ratings.join(score(ratings), Seq("user", "product"), "left")
      .agg(
        sqrt(avg(when(isValid,
          pow(col("rating") - col("prediction"), lit(2))))).as("rmse"),
        count(when(isTrain, lit(1))).as("n_train"),
        count(when(isValid, lit(1))).as("n_valid"),
        count(when(isValid, col("prediction"))).as("n_scored"))
    Caching.materializeAndRelease(out, ratings)
  }

  /** Top-N recommendations per user via ALSModel.recommendForAllUsers on
    * the standing model — the one ALS surface the modern DataFrame API
    * adds over the reference's predict-known-pairs-only API (ref:
    * ICollabFilterCassandra.java:14-18 exposes predict but no top-N).
    * Internally a blocked factor cross-product with per-user top-k — the
    * recommend-to-everyone batch job of a real recsys. Rows-only in the
    * harness (ALS is not SQL-expressible); ranking invariants are
    * spec-gated in CollabEventsSpec. */
  def alsRecommend(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val model = Training.load(standingModelPath(s, dir))
    // dense ids exist only for the fit: map back to the 64-bit user_id
    val out = model.recommendForAllUsers(k)
      .select(col("user"), posexplode(col("recommendations")))
      .join(userIds(ratingsFromEvents(s, dir)), "user")
      .select(col("user_id").as("user"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("col.product").as("product"),
        col("col.rating").cast("double").as("score"))
      .orderBy(col("user"), col("rnk"))
    Caching.materializeAndRelease(out)
  }

  /** Saved-model root of the LAST [[alsScoreFromSaved]] run — the oracle
    * reads the factor parquet directly (stash-then-generate: Verify dumps
    * oracle_sql.json after every query has run). */
  @volatile private[graft] var savedModelPath: Option[String] = None

  /** Harness query: the validation pairs scored from the SAVED model —
    * no fit in the query path; the factor matrices come frozen from
    * parquet, so this is the score-many-times half of train-once. Fully
    * oracled (cf_als_score_saved). */
  def alsScoreFromSaved(s: SparkSession, dir: String): DataFrame = {
    val score = scorer(s, dir)
    savedModelPath = Some(standingModelPath(s, dir))
    val ratings = ratingsFromEvents(s, dir).cache()
    val out = score(ratings)
      .join(userIds(ratings), "user")
      .select(col("user_id").as("user"), col("product"), col("prediction"))
      .orderBy(col("user"), col("product"))
    Caching.materializeAndRelease(out, ratings)
  }

  /** Flagship entry frame: the validation ratings joined to their scores
    * from the standing model, actual + predicted (driver smoke-checks
    * rows > 0). */
  def entryFrame(s: SparkSession, dir: String): DataFrame = {
    val score = scorer(s, dir)
    val ratings = ratingsFromEvents(s, dir)
    Validation.joined(
      ratings.filter(!isTrain).select("user", "product", "rating"),
      score(ratings))
      .join(userIds(ratings), "user")
      .select(col("user_id").as("user"), col("product"), col("rating"),
        col("prediction"))
      .orderBy(col("user"), col("product"))
  }
}
