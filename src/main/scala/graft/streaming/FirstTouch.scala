package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.sources.Tables

/** One raw event on the first-touch stream. */
case class TouchEv(user_id: Long, event_type: String, ts: Timestamp,
    event_id: Long, value: Double)

/** Per-(user, event_type) keyed state: the canonical first row seen so
  * far — minimal by (ts_ms, event_id), value as exact cents. */
case class TouchState(tsMs: Long, eventId: Long, cents: Long)

/** An emitted first-touch row (the state, keyed). */
case class TouchRow(user_id: Long, event_type: String, first_ts_ms: Long,
    first_event_id: Long, cents: Long)

/** D237: streaming first-touch deduplication — the attribution /
  * activation primitive: for every (user, event_type) key keep ONLY
  * the first event ever seen and drop the rest, while reporting per
  * arrival epoch how many events arrived, how many were first
  * touches, how many were dropped as duplicates, the cumulative
  * unique-key count (the activation curve), and the summed value of
  * the epoch's first-touch rows (first-touch attributed revenue).
  * This is the STREAM-dedup face of the dedup family: d1/d11
  * deduplicate a static corpus, e21 deduplicates an unbounded arrival
  * stream where "seen before" is live keyed state, not a join.
  *
  * Batch twin (what the oracle checks): one row_number window per
  * (user, event_type) ordered by (ts, event_id) — rn = 1 IS the
  * canonical first touch — then ONE partial-aggregated census per
  * arrival epoch and a 3-row cumulative window. Epoch = the event's
  * day-of-month decade ((day−1) div 10 — the fixture month's three
  * ten-day arrival windows; any monotone-in-time bucketing works).
  *
  * Stream side ([[FirstTouch.firstTouchStream]]):
  * `mapGroupsWithState` keyed by (user, event_type); state = the
  * canonical (ts_ms, event_id, cents) triple, merged by pairwise MIN
  * on (ts_ms, event_id) — commutative + idempotent, so ARRIVAL ORDER
  * CANNOT MATTER: an out-of-order epoch (later decade's rows arriving
  * first) converges to the same fixed point, which StreamingSpec
  * pins by splitting the feed across an inverted epoch boundary and
  * comparing the converged state row-for-row with the batch twin's
  * rn = 1 frame. Value rides as exact integer cents (the e15/e17
  * precision rule), timestamps as epoch millis.
  *
  * Scale shape: batch twin = one hash exchange on the composite key
  * (the window) + a ≤#epochs-row census; stream = distributed keyed
  * state, one entry per DISTINCT key (the minimum any exact
  * first-touch semantics needs — this is dropDuplicates' own state
  * bound), emissions in update mode shrink monotonically to the fixed
  * point. No driver-side state anywhere. */
object FirstTouch {

  /** Arrival-epoch column: the day-of-month decade. */
  private val epochExpr = "CAST((dayofmonth(ts) - 1) div 10 AS BIGINT)"

  // ---- batch twin (declarative; this is what the oracle checks) ----

  /** Ranked events: rn = 1 marks the canonical first touch per key. */
  private def ranked(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    ev.select($"user_id", $"event_type", $"ts", $"event_id", $"value",
        expr(epochExpr).as("epoch"))
      .withColumn("rn", row_number().over(w))
  }

  /** The batch canonical first-touch frame (rn = 1 rows) in the
    * stream face's exact-integer shape — the spec's equality target. */
  def canonical(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ranked(ev).filter($"rn" === 1)
      .select($"user_id", $"event_type",
        unix_millis($"ts").as("first_ts_ms"),
        $"event_id".as("first_event_id"),
        floor($"value" * 100).cast("long").as("cents"))
  }

  def e21FirstTouch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = ranked(Tables.events(spark, dir))
      .groupBy($"epoch")
      .agg(count(lit(1)).as("n_arrivals"),
        sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_first_touch"),
        // exact BIGINT cents (the e15/e17 precision rule, matching the
        // stream side's TouchState.cents) — divide only at the readout
        (sum(when($"rn" === 1, floor($"value" * 100).cast("long"))
          .otherwise(0L)) / 100.0).as("first_value_sum"))
    census
      .select($"epoch", $"n_arrivals", $"n_first_touch",
        ($"n_arrivals" - $"n_first_touch").as("n_dup_dropped"),
        sum($"n_first_touch").over(Window.orderBy($"epoch"))
          .as("cum_unique"),
        $"first_value_sum")
      .orderBy($"epoch")
  }

  // ---- streaming variant (keyed min-merge state) ----

  private def lt(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  private[streaming] def update(key: (Long, String),
      in: Iterator[TouchEv], state: GroupState[TouchState]): TouchRow = {
    val cand = in.map(e => TouchState(e.ts.getTime, e.event_id,
        math.floor(e.value * 100).toLong))
      .reduce((a, b) => if (lt((a.tsMs, a.eventId), (b.tsMs, b.eventId))) a
                        else b)
    val next = state.getOption match {
      case Some(c) if !lt((cand.tsMs, cand.eventId), (c.tsMs, c.eventId)) => c
      case _ => cand
    }
    state.update(next)
    TouchRow(key._1, key._2, next.tsMs, next.eventId, next.cents)
  }

  /** First-touch rows in update mode: each trigger re-emits a key's
    * canonical row only when new input arrived for it; the per-key
    * minimum across all emissions is the converged first touch. */
  def firstTouchStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"), col("value"))
      .as[TouchEv]
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
      .toDF()
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e21_first_touch" -> e21FirstTouch)

  val oracle: Map[String, String] = Map(
    "e21_first_touch" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id, value,
              CAST((dayofmonth(ts) - 1) // 10 AS BIGINT) AS epoch
            FROM events),
          r AS (SELECT *, row_number() OVER (
              PARTITION BY user_id, event_type
              ORDER BY ts, event_id) AS rn
            FROM e),
          c AS (SELECT epoch, CAST(count(*) AS BIGINT) AS n_arrivals,
              CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT)
                AS n_first_touch,
              CAST(sum(CASE WHEN rn = 1
                  THEN CAST(floor(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) / 100.0
                AS first_value_sum
            FROM r GROUP BY epoch)
          SELECT epoch, n_arrivals, n_first_touch,
            n_arrivals - n_first_touch AS n_dup_dropped,
            CAST(sum(n_first_touch) OVER (ORDER BY epoch) AS BIGINT)
              AS cum_unique,
            first_value_sum
          FROM c ORDER BY epoch""")
}
