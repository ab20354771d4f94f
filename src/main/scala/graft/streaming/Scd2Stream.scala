package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Tables

/** One emitted SCD2 version row. */
case class Scd2Ver(user_id: Long, version: Int, valid_from_ms: Long,
    valid_to_ms: Option[Long], event_type: String, cents: Long)

/** Per-user SCD2 state: unsealed buffer + the open version. */
case class Scd2State(pending: List[CdcPend],
    cur: Option[(Long, Long, String, Long, Int)])

/** D163: streaming SCD2 maintenance — build the slowly-changing-
  * dimension VERSION HISTORY online: each user change opens a new
  * version and closes the previous one with `valid_to` = the new
  * change's timestamp (half-open intervals, the q46/q72 batch
  * convention — q46 builds this table in batch, q72 maintains it
  * incrementally, e17 emits it from the stream itself; e15 keeps only
  * the compacted head, e17 keeps the full history).
  *
  * Stream side: the e9/e15 watermark-sealed buffer keyed by user —
  * changes fold in exact (ts, event_id) order once sealed, each fold
  * step emits the closed predecessor; an event-time timeout at
  * lastTs + [[Scd2Stream.horizonMs]] retires the state and emits the
  * open version (`valid_to` NULL). The horizon bounds state at
  * warehouse scale; stream ≡ batch holds whenever no user's
  * inter-change gap exceeds it (StreamingSpec pins that case).
  *
  * Batch twin (what the oracle checks): one lead() window per user —
  * version = row_number, valid_to = next change's ts. Timestamps ride
  * as epoch millis (the e15 precision rule). */
object Scd2Stream {

  /** Inactivity horizon after which a user's open version is emitted
    * and state retires. */
  val horizonMs: Long = 30L * 24 * 3600 * 1000

  // ---- batch twin (declarative; this is what the oracle checks) ----

  /** Full version history over a batch events frame. */
  def versions(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
    ev.select($"user_id", unix_millis($"ts").as("ts_ms"), $"event_id",
        $"event_type", floor($"value" * 100).cast("long").as("cents"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_ms", lead($"ts_ms", 1).over(w))
      .select($"user_id", $"version", $"ts_ms".as("valid_from_ms"),
        $"valid_to_ms", $"event_type", $"cents")
  }

  def e17Scd2Stream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    versions(Tables.events(spark, dir)).orderBy($"user_id", $"version")
  }

  // ---- streaming variant (custom state) ----

  def scd2Stream(spark: SparkSession, events: DataFrame,
      delay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    events.withWatermark("ts", delay)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .as[CdcEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(updateScd2)
      .toDF()
  }

  private def toPend(e: CdcEvent): CdcPend =
    CdcPend(e.ts.getTime, e.event_id, e.event_type,
      math.floor(e.value * 100).toLong)

  /** Fold sealed changes (sorted): each one closes the open version
    * and opens the next. */
  private def fold(uid: Long, cur: Option[(Long, Long, String, Long, Int)],
      done: List[CdcPend])
      : (Option[(Long, Long, String, Long, Int)], List[Scd2Ver]) =
    done.foldLeft((cur, List.empty[Scd2Ver])) { case ((c, out), p) =>
      c match {
        case Some((ts, _, et, cents, v)) =>
          (Some((p.tsMs, p.eventId, p.eventType, p.cents, v + 1)),
            out :+ Scd2Ver(uid, v, ts, Some(p.tsMs), et, cents))
        case None =>
          (Some((p.tsMs, p.eventId, p.eventType, p.cents, 1)), out)
      }
    }

  private[streaming] def updateScd2(uid: Long, in: Iterator[CdcEvent],
      state: GroupState[Scd2State]): Iterator[Scd2Ver] = {
    val st = state.getOption.getOrElse(Scd2State(Nil, None))
    if (state.hasTimedOut) {
      val (cur, rows) = fold(uid,
        st.cur, st.pending.sortBy(p => (p.tsMs, p.eventId)))
      state.remove()
      (rows ++ cur.map { case (ts, _, et, cents, v) =>
        Scd2Ver(uid, v, ts, None, et, cents)
      }).iterator
    } else {
      val wm = state.getCurrentWatermarkMs()
      val all = st.pending ++ in.map(toPend)
      val (sealedEvs, pending) = all.partition(_.tsMs <= wm)
      val (cur, rows) = fold(uid,
        st.cur, sealedEvs.sortBy(p => (p.tsMs, p.eventId)))
      state.update(Scd2State(pending, cur))
      val lastTs = (pending.map(_.tsMs) ++ cur.map(_._1)).max
      state.setTimeoutTimestamp(math.max(lastTs + horizonMs, wm + 1))
      rows.iterator
    }
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e17_scd2_stream" -> e17Scd2Stream)

  val oracle: Map[String, String] = Map(
    "e17_scd2_stream" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
              CAST(floor(value * 100) AS BIGINT) AS cents,
              CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
            FROM events),
          v AS (SELECT user_id,
              CAST(row_number() OVER w AS INT) AS version,
              ts_ms AS valid_from_ms,
              lead(ts_ms) OVER w AS valid_to_ms,
              event_type, cents
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
          SELECT user_id, version, valid_from_ms, valid_to_ms,
            event_type, cents
          FROM v ORDER BY user_id, version""")
}
