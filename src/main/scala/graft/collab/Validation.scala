package graft.collab

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The relational core of the reference: equi inner join of validations and
  * predictions on (user, product) (ref: CollabFilterCassandra8.java:45-57).
  * `CollabEvents.entryFrame` builds its actual + predicted frame with it.
  * A collab round does not: its scorer joins the validation rows to the
  * model's factors directly, and its RMSE and report come from one pass
  * over that match ([[Scoring.scored]], [[Report.of]]).
  *
  * Scale notes: the join shuffles on (user, product) and Catalyst
  * auto-broadcasts the smaller side below the broadcast threshold.
  */
object Validation {
  import Schemas._

  /** validations ⋈ predictions on (user, product); keeps actual + predicted.
    * (≙ J1 + P5: key-by, join, values — SURVEY §2.4). */
  def joined(validations: DataFrame, predictions: DataFrame): DataFrame =
    validations.join(
      predictions.select(col(UserCol), col(ProductCol),
        col(PredictionCol)),
      Seq(UserCol, ProductCol), "inner")
}
