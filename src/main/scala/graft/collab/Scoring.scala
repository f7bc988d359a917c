package graft.collab

import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Batch prediction (ref: CollabFilterCassandra8.java:39-43 —
  * model.predict over all (user, product) validation pairs), scored
  * straight off the model's factor frames:
  * `itemFactors ⋈ broadcast(userFactors ⋈ broadcast(validations))`.
  *
  * `ALSModel.transform` left-joins the factor frames to its input. Those
  * frames are RDD-backed and carry no size statistics, so AQE plans both
  * joins as sort-merge joins and runs each shuffle stage as its own job.
  * Here only frames bounded by the validation rows are broadcast: those
  * rows, and their join with the user factors (at most one row per
  * validation row). Both are bounded by the report, which collects every
  * validation row to the driver anyway ([[Report]]). A factor frame is never broadcast; it grows
  * with users and items. The item factors stream past the broadcast, so
  * scoring runs no shuffle.
  *
  * The prediction is ALS's own float loop (`ALSModel.predict`: a float
  * accumulator, `d += a(i) * b(i)` over the rank), cast to double before
  * any RMSE math so aggregates hash-match double-precision oracles
  * (SURVEY §7.4.5). It is therefore bit-identical to `transform`'s.
  *
  * The inner joins drop pairs whose user or product the model has not
  * seen, and NaN predictions are dropped as well, as
  * `coldStartStrategy=drop` does (SURVEY §2.9 M2). Each input row is
  * scored once: k validation rows with one (user, product) key give k
  * scored rows, one report line per prediction like the reference's
  * (8.java:63-77).
  */
object Scoring {
  import Schemas._

  private val dot = udf { (a: Seq[Float], b: Seq[Float]) =>
    var d = 0.0f
    var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  /** Score every (user, product) row of `validations`; its columns pass
    * through and `prediction: Double` is added. */
  def scored(model: ALSModel, validations: DataFrame): DataFrame = {
    val users = model.userFactors
      .select(col("id").as(UserCol), col("features").as("user_features"))
      .join(broadcast(validations), UserCol)
    model.itemFactors
      .select(col("id").as(ProductCol), col("features").as("item_features"))
      .join(broadcast(users), ProductCol)
      .select(validations.columns.map(col) :+
        dot(col("user_features"), col("item_features")).cast(DoubleType)
          .as(PredictionCol): _*)
      .filter(!isnan(col(PredictionCol)))
  }
}
