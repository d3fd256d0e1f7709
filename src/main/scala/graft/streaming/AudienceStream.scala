package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming theta audience sketches: the live twin of q216's batch
  * retention query and the set-algebra extension of [[SketchStream]]'s
  * persistence pattern — one fixed-size DISTINCT-USER sketch PER
  * EVENT-TIME WINDOW, built incrementally by the streaming aggregation
  * state (Spark's built-in `theta_sketch_agg` runs inside Structured
  * Streaming's ObjectHashAggregate exactly as in batch).
  * Because the emitted bytes are canonical (a pure function of the
  * window's user SET), a sketch built across any number of triggers is
  * BIT-IDENTICAL to the batch sketch of the same window — and the
  * persisted per-window sketch table then answers the questions raw
  * streams can't be re-read for at 100 TB: day-over-day retention
  * (|A_d ∩ A_{d+1}|), churn (|A_d ∖ A_{d+1}|), and range reach
  * (|∪ A_d|), each a constant-time sketch op per window PAIR instead
  * of a re-scan. AudienceStreamSpec proves stream==batch per window
  * (bytes) and sketch-table retention == one-shot.
  */
object AudienceStream {

  val LgNom = 7

  /** Per-window distinct-user sketches over a (ts TIMESTAMP, user_id
    * BIGINT) stream: window → (sketch, exact distinct users). Works on
    * a streaming OR batch frame — the twins the spec compares. On the
    * streaming side the caller adds the watermark; the exact distinct
    * count rides only on the batch twin (streaming `count_distinct`
    * over raw state is the thing the sketch exists to replace).
    */
  def windowSketches(users: DataFrame, windowDur: String): DataFrame =
    users
      .groupBy(window(col("ts"), windowDur).as("win"))
      .agg(theta_sketch_agg(col("user_id"), LgNom).as("sk"))

  /** Consecutive-window retention/churn sketches from a PERSISTED
    * sketch table alone (win, sk): window → (sketch of users active in
    * both this window and the next, sketch of users lost after this
    * window). Runs on the tiny sketch table — the raw stream is never
    * re-read.
    */
  def retentionFromSketches(perWindow: DataFrame, windowDur: String): DataFrame = {
    val next = perWindow.select(
      col("win.start").as("prev_start"), col("sk").as("sk_next"))
    perWindow
      .join(next,
        col("win.start") + expr(s"INTERVAL $windowDur") === col("prev_start"))
      .select(col("win"),
        theta_intersection(col("sk"), col("sk_next")).as("sk_retained"),
        theta_difference(col("sk"), col("sk_next")).as("sk_churned"))
  }
}
