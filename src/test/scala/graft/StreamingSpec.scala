package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** A CDC change row for the streaming-upsert test. */
case class Chg(k: Long, v: Double, seg: String)

/** The streaming transforms must produce the batch answer when the
  * stream is drained (D22), and the watermark must drop late data. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def t(minutes: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
      .plusMinutes(minutes.toLong))

  private val evs = Seq(
    Ev(1, t(0), 1, "view", 1.0), Ev(2, t(10), 1, "view", 2.0),
    Ev(3, t(65), 1, "click", 3.0),   // > 30min gap → new session, new hour
    Ev(4, t(70), 2, "view", 4.0),
    Ev(5, t(130), 2, "view", 5.0))   // third hour

  test("streaming tumbling aggregation equals the batch answer when drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.tumblingStream(mem.toDF())
      .writeStream.format("memory").queryName("tumb")
      .outputMode("complete").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      val got = spark.table("tumb")
        .orderBy($"window_start", $"event_type").collect()
      val exp = EventStreams.tumbling(evs.toDF())
        .orderBy($"window_start", $"event_type").collect()
      assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
      assert(got.length == 4) // (h0 view), (h1 click), (h1 view), (h2 view)
    } finally q.stop()
  }

  test("e12 seasonal alerts tier warn/crit on a stream and equal the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 2026-01-01 is a Thursday → dow 4 (0=Sunday); slot mean = 4/2 = 2
    val profile = Seq((4, 0, 4L, 2L), (4, 1, 4L, 2L), (4, 2, 4L, 2L))
      .toDF("dow", "hr", "total", "n_hours")
    val evts = Seq(
      Ev(1, t(0), 1, "v", 0.0), Ev(2, t(5), 1, "v", 0.0),
      Ev(3, t(10), 2, "v", 0.0), Ev(4, t(15), 2, "v", 0.0), // h0: 4 = 2.0x → crit
      Ev(5, t(61), 1, "v", 0.0), Ev(6, t(62), 1, "v", 0.0),
      Ev(7, t(63), 1, "v", 0.0),                            // h1: 3 = 1.5x → warn
      Ev(8, t(121), 1, "v", 0.0))                           // h2: 1 → quiet
    val mem = MemoryStream[Ev]
    val q = EventStreams.anomalyAlertsStream(mem.toDF(), profile)
      .writeStream.format("memory").queryName("e12")
      .outputMode("append").start()
    try {
      mem.addData(evts: _*)
      q.processAllAvailable()
      // advance the watermark past h2 so all windows seal; the flush
      // event lands on Friday (dow 5) — outside the profile, so the
      // inner join drops it and it can't perturb the comparison
      mem.addData(Ev(9, t(24 * 60), 1, "v", 0.0))
      q.processAllAvailable()
      val got = spark.table("e12").orderBy($"hr_ts").collect()
      val exp = EventStreams.anomalyAlerts(evts.toDF(), profile)
        .orderBy($"hr_ts").collect()
      assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
      assert(exp.map(_.getAs[String]("level")).toSeq == Seq("crit", "warn"))
    } finally q.stop()
  }

  test("stream-static enrichment joins the broadcast dim and equals the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // dim covers users 1 and 2; user 3 must fall through to 'unknown'
    val dim = Seq((1L, "FRANCE"), (2L, "KENYA")).toDF("user_id", "n_name")
    val withOrphan = evs :+ Ev(6, t(20), 3, "view", 6.0)
    val mem = MemoryStream[Ev]
    val q = EventStreams.enrichedCountsStream(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enrich")
      .outputMode("complete").start()
    try {
      mem.addData(withOrphan: _*)
      q.processAllAvailable()
      val got = spark.table("enrich")
        .orderBy($"window_start", $"nation").collect()
      val exp = EventStreams.enrichedCounts(withOrphan.toDF(), dim)
        .orderBy($"window_start", $"nation").collect()
      assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
      assert(got.exists(_.getAs[String]("nation") == "unknown"))
    } finally q.stop()
  }

  test("watermark drops events later than the delay (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.tumblingStream(mem.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("late")
      .outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      // advance the watermark far past hour 0, closing its windows
      mem.addData(Ev(6, t(600), 3, "view", 1.0))
      q.processAllAvailable()
      val closed = spark.table("late").count()
      // this event is hours behind the watermark → must be discarded
      mem.addData(Ev(7, t(5), 1, "view", 99.0))
      q.processAllAvailable()
      assert(spark.table("late").count() == closed)
      val h0 = spark.table("late")
        .filter($"window_start" === t(0) && $"event_type" === "view")
        .select($"n_events").collect()
      assert(h0.map(_.getLong(0)).toSeq == Seq(2), "late event must not be counted")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids (exactly-once counts)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.dedupCountsStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("complete").start()
    try {
      mem.addData(evs: _*)
      mem.addData(evs.head, evs(1))      // exact duplicates, same ids
      q.processAllAvailable()
      val h0views = spark.table("dedup")
        .filter($"window_start" === t(0) && $"event_type" === "view")
        .select($"n_unique_events").collect().map(_.getLong(0)).toSeq
      assert(h0views == Seq(2), s"duplicates not dropped: $h0views")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark drops late duplicates with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.dedupWithinWatermarkStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, t(0), 1, "view", 1.0), Ev(2, t(5), 1, "view", 2.0))
      q.processAllAvailable()
      // same id redelivered in a LATER batch, within the 10-min delay,
      // with a divergent payload — must still be dropped
      mem.addData(Ev(1, t(3), 1, "click", 99.0))
      q.processAllAvailable()
      mem.addData(Ev(3, t(8), 2, "view", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_wm")
        .select($"event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"late duplicate not dropped: $ids")
    } finally q.stop()
  }

  test("stream-stream attribution join equals the bucketed batch range join") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(Ev(10, t(0), 1, "click", 1.0), Ev(11, t(40), 1, "click", 2.0),
      Ev(12, t(10), 2, "click", 5.0))
    val purchases = Seq(Ev(100, t(50), 1, "purchase", 0.0),
      Ev(101, t(200), 1, "purchase", 0.0), Ev(102, t(10), 2, "purchase", 0.0),
      Ev(103, t(30), 3, "purchase", 0.0))
    def pDf(df: DataFrame): DataFrame = df.select($"event_id", $"ts", $"user_id")
    def cDf(df: DataFrame): DataFrame = df.select($"event_id".as("c_id"),
      $"ts".as("c_ts"), $"user_id".as("c_user"), $"value".as("c_value"))
    val memP = MemoryStream[Ev]
    val memC = MemoryStream[Ev]
    val q = EventStreams.attributionStream(pDf(memP.toDF()), cDf(memC.toDF()))
      .select($"event_id", $"c_id")
      .writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      memP.addData(purchases: _*)
      memC.addData(clicks: _*)
      q.processAllAvailable()
      val got = spark.table("attr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // purchase 100 @t50 ← click 11 @t40; purchase 102 @t10 ← click 12
      // @t10 (inclusive upper bound); 101/103 attract nothing
      assert(got == Set((100L, 11L), (102L, 12L)))
      val batch = graft.operators.RangeJoin.rangeJoin(
          pDf(purchases.toDF()), "user_id", "ts",
          cDf(clicks.toDF()), "c_user", "c_ts", Seq("c_id", "c_value"), 1800)
        .select($"event_id", $"c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch == got, "batch range-join twin diverged from the stream")
    } finally q.stop()
  }

  test("outer attribution: orphan purchases emit null-padded after the watermark passes") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(Ev(10, t(0), 1, "click", 1.0), Ev(11, t(40), 1, "click", 2.0),
      Ev(12, t(10), 2, "click", 5.0))
    val purchases = Seq(Ev(100, t(50), 1, "purchase", 0.0),
      Ev(101, t(200), 1, "purchase", 0.0), Ev(102, t(10), 2, "purchase", 0.0),
      Ev(103, t(30), 3, "purchase", 0.0))
    def pDf(df: DataFrame): DataFrame = df.select($"event_id", $"ts", $"user_id")
    def cDf(df: DataFrame): DataFrame = df.select($"event_id".as("c_id"),
      $"ts".as("c_ts"), $"user_id".as("c_user"), $"value".as("c_value"))
    val memP = MemoryStream[Ev]
    val memC = MemoryStream[Ev]
    val q = EventStreams.attributionOuterStream(pDf(memP.toDF()), cDf(memC.toDF()))
      .select($"event_id", $"c_id")
      .writeStream.format("memory").queryName("attr_outer")
      .outputMode("append").start()
    try {
      memP.addData(purchases: _*)
      memC.addData(clicks: _*)
      q.processAllAvailable()
      // inner matches can emit immediately; orphans must NOT have yet
      val early = spark.table("attr_outer").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .toSet
      assert(!early.exists(_._2.isEmpty),
        s"orphan emitted before the watermark could rule out a match: $early")
      // advance event time far past every purchase's join window
      // (users 8/9 so the advancing rows match nothing themselves)
      memP.addData(Ev(900, t(5000), 9, "purchase", 0.0))
      memC.addData(Ev(901, t(5000), 8, "click", 0.0))
      q.processAllAvailable()
      memP.addData(Ev(902, t(5001), 9, "purchase", 0.0))
      memC.addData(Ev(903, t(5001), 8, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("attr_outer").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .toSet
      // matched: 100<-11 (t40 in [t20,t50]), 102<-12 (inclusive upper);
      // orphans 101 (nearest click 160min earlier) and 103 (user 3 never
      // clicked) surface exactly once, null-padded
      assert(got.contains((100L, Some(11L))) && got.contains((102L, Some(12L))))
      assert(got.contains((101L, None)) && got.contains((103L, None)),
        s"orphan purchases missing from outer result: $got")
    } finally q.stop()
  }

  test("batch dedup picks the deterministic min-struct representative for divergent duplicates") {
    import spark.implicits._
    // duplicate ids with DIFFERENT payloads; the non-min row comes first
    // so any first-seen survivor (a dropDuplicates revert) keeps the
    // wrong payload and this flips red
    val dups = Seq(
      Ev(10, t(50), 1, "view", 9.0),  // first seen, NOT the min
      Ev(10, t(20), 1, "click", 2.0), // min (ts) → representative
      Ev(11, t(30), 2, "view", 5.0),
      Ev(11, t(30), 2, "click", 1.0)) // ts tie → min value wins
    val got = EventStreams.dedupCounts(dups.toDF()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // representatives: id 10 → (click, 2.0), id 11 → (click, 1.0)
    assert(got == Set(("click", 2L, 3.0)),
      s"non-deterministic or wrong representative: $got")
    // single-partition input must give the identical answer (order
    // independence of the min-struct choice)
    val got1 = EventStreams.dedupCounts(dups.toDF().coalesce(1)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got1 == got)
  }

  test("streaming dedup keeps the FIRST arrival when a divergent duplicate follows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.dedupCountsStream(mem.toDF())
      .writeStream.format("memory").queryName("divdedup")
      .outputMode("complete").start()
    try {
      mem.addData(Ev(1, t(0), 1, "view", 1.0))
      q.processAllAvailable()
      // same id, different payload, arrives later → must be dropped
      // (arrival order IS the streaming dedup semantics)
      mem.addData(Ev(1, t(5), 1, "click", 9.0))
      q.processAllAvailable()
      val rows = spark.table("divdedup")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(rows == Map("view" -> 1L),
        s"divergent duplicate not dropped by first-wins dedup: $rows")
    } finally q.stop()
  }

  test("file-source readStream drains to the batch answer (full IO path)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evstream").toString
    evs.toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(evs.toDF().schema)
      .parquet(dir)
    val q = EventStreams.tumblingStream(stream)
      .writeStream.format("memory").queryName("filetumb")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("filetumb")
        .orderBy($"window_start", $"event_type").collect()
      val exp = EventStreams.tumbling(evs.toDF())
        .orderBy($"window_start", $"event_type").collect()
      assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
    } finally q.stop()
  }

  test("checkpointed query restarts exactly-once: no recount after resume") {
    // Stop a checkpointed aggregation mid-stream, deliver more data,
    // restart a NEW query object on the same checkpoint: the resumed
    // query must pick up only the unprocessed files and the final
    // answer must equal the batch answer over everything — the
    // exactly-once recovery contract the sink/checkpoint pair claims.
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_restart_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ck").toString
    val (first, second) = evs.splitAt(3)
    first.toDF().write.mode("overwrite").parquet(src)
    val schema = evs.toDF().schema
    def start() = EventStreams.tumblingStream(
        spark.readStream.schema(schema).parquet(src))
      .writeStream.format("memory").queryName("restarttumb")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    second.toDF().write.mode("append").parquet(src)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.table("restarttumb")
        .orderBy($"window_start", $"event_type").collect()
      val exp = EventStreams.tumbling(evs.toDF())
        .orderBy($"window_start", $"event_type").collect()
      assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
      // and the resumed query really started from the checkpoint, not
      // from scratch: its first batch id continues the old sequence
      assert(q2.lastProgress.batchId >= 1,
        s"resumed query re-ran from batch ${q2.lastProgress.batchId}")
    } finally q2.stop()
  }

  // ---- e6 ordered funnel (custom flatMapGroupsWithState state) ----

  private val funnelEvs = Seq(
    // user 1, session 1: full ordered funnel → stage 3; then a lone view
    // after a 50-min gap → second session, stage 1
    Ev(1, t(0), 1, "view", 0), Ev(2, t(5), 1, "click", 0),
    Ev(3, t(10), 1, "purchase", 0), Ev(4, t(60), 1, "view", 0),
    // user 2: purchase and click BEFORE the first view → only stage 1
    Ev(5, t(0), 2, "purchase", 0), Ev(6, t(5), 2, "click", 0),
    Ev(7, t(10), 2, "view", 0),
    // user 3: click→view→click — only the post-view click counts → stage 2
    Ev(8, t(0), 3, "click", 0), Ev(9, t(5), 3, "view", 0),
    Ev(10, t(10), 3, "click", 0),
    // user 4: no funnel event at all → stage 0
    Ev(11, t(0), 4, "error", 0))

  private def funnelRows(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getInt(3))).toSeq

  test("foreachBatch applies streaming CDC batches as broadcast upserts") {
    // The streaming half of q30: each micro-batch of change rows merges
    // into the dimension snapshot via the same broadcast-only
    // AdvancedSql.upsert, writing a new snapshot version per batch
    // (a table format would make the swap atomic in production; plain
    // versioned parquet keeps the test dependency-free).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    Seq(Chg(1, 10.0, "A"), Chg(2, 20.0, "A"), Chg(3, 30.0, "B"))
      .toDF().write.mode("overwrite").parquet(s"$dir/v0")
    @volatile var cur = s"$dir/v0"
    val mem = MemoryStream[Chg]
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val base = spark.read.parquet(cur)
        val next = s"$dir/v${id + 1}"
        graft.operators.AdvancedSql.upsert(base, batch, "k")
          .write.mode("overwrite").parquet(next)
        cur = next
        ()
      }
      .start()
    try {
      mem.addData(Chg(2, 99.0, "B"), Chg(4, 40.0, "C")) // update + insert
      q.processAllAvailable()
      mem.addData(Chg(4, 44.0, "C"))                    // update the insert
      q.processAllAvailable()
      val fin = spark.read.parquet(cur).orderBy($"k").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"), r.getAs[String]("seg")))
      assert(fin.toSeq == Seq((1L, 10.0, "A"), (2L, 99.0, "B"),
        (3L, 30.0, "B"), (4L, 44.0, "C")))
    } finally q.stop()
  }

  test("batch funnel counts stages only in temporal order") {
    import spark.implicits._
    val got = funnelRows(streaming.Funnel.sessionFunnel(funnelEvs.toDF())
      .orderBy($"user_id", $"session_start").collect())
    assert(got == Seq(
      (1L, t(0), 3L, 3), (1L, t(60), 1L, 1),
      (2L, t(0), 3L, 1),
      (3L, t(0), 3L, 2),
      (4L, t(0), 1L, 0)))
  }

  test("streaming funnel (custom state) equals the batch twin once sessions close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.Funnel.sessionFunnelStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    try {
      mem.addData(funnelEvs: _*)
      q.processAllAvailable()
      // advance the watermark far past every session's close time
      mem.addData(Ev(99, t(10000), 99, "view", 0))
      q.processAllAvailable()
      q.processAllAvailable() // extra trigger for the timeout flush batch
      val got = funnelRows(spark.table("funnel").filter($"user_id" < 99)
        .orderBy($"user_id", $"session_start").collect())
      val exp = funnelRows(streaming.Funnel.sessionFunnel(funnelEvs.toDF())
        .orderBy($"user_id", $"session_start").collect())
      assert(got == exp, s"stream diverged from batch twin: $got vs $exp")
    } finally q.stop()
  }

  test("streaming budget alerts (custom state) equal the batch twin once drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1 crosses the 100.00 tier on event 3 and 300.00 on event 5;
    // user 2 never crosses
    val spend = Seq(
      Ev(1, t(0), 1, "purchase", 40.0), Ev(2, t(5), 1, "purchase", 50.0),
      Ev(3, t(20), 1, "purchase", 30.0), Ev(4, t(40), 1, "purchase", 120.0),
      Ev(5, t(60), 1, "purchase", 80.0),
      Ev(6, t(10), 2, "purchase", 99.0))
    val mem = MemoryStream[Ev]
    val q = streaming.Budget.budgetAlertStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("budget")
      .outputMode("append").start()
    try {
      mem.addData(spend: _*)
      q.processAllAvailable()
      mem.addData(Ev(99, t(10000), 99, "purchase", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("budget").filter($"user_id" < 99)
        .orderBy($"user_id", $"cum_cents").collect().map(_.toString).toSeq
      val exp = streaming.Budget.budgetAlerts(spend.toDF())
        .orderBy($"user_id", $"cum_cents").collect().map(_.toString).toSeq
      assert(got == exp, s"stream diverged from batch twin: $got vs $exp")
      assert(got.size == 3) // events 3 (tier 1), 4 (tier 2), 5 (tier 3)
    } finally q.stop()
  }

  test("budget refunds: floor-division tiers, re-crossings, and duplicate cum_cents") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // tier semantics are FLOOR (like DuckDB's //), not truncate-toward-
    // zero: rising from a refunded NEGATIVE balance to +10.00 crosses
    // tier 0 (floor(-7000/10000) = -1 < 0 = floor(1000/10000)); a
    // truncating div says 0 both sides and misses the alert. And the
    // tier-1 re-crossing after the first refund duplicates cum_cents
    // 11000 across two alerts — only (user, cum_cents, event_id) is a
    // total order.
    val spend = Seq(
      Ev(1, t(0), 1, "purchase", 110.0),   // cum 11000  -> tier 1 alert
      Ev(2, t(10), 1, "refund", -30.0),    // cum  8000  (down, no alert)
      Ev(3, t(20), 1, "purchase", 30.0),   // cum 11000  -> tier 1 again
      Ev(4, t(30), 1, "refund", -180.0),   // cum -7000  (tier -1, down)
      Ev(5, t(40), 1, "purchase", 80.0))   // cum  1000  -> tier 0 alert
    val batch = streaming.Budget.budgetAlerts(spend.toDF())
      .orderBy($"user_id", $"cum_cents", $"event_id")
      .select($"event_id", $"cum_cents", $"tier").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(batch == Seq((5L, 1000L, 0), (1L, 11000L, 1), (3L, 11000L, 1)),
      s"batch floor-tier semantics wrong: $batch")

    val mem = MemoryStream[Ev]
    val q = streaming.Budget.budgetAlertStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("budget3")
      .outputMode("append").start()
    try {
      mem.addData(spend: _*)
      q.processAllAvailable()
      mem.addData(Ev(99, t(10000), 99, "purchase", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("budget3").filter($"user_id" < 99)
        .orderBy($"user_id", $"cum_cents", $"event_id")
        .select($"event_id", $"cum_cents", $"tier").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(got == batch, s"stream diverged from batch twin: $got vs $batch")
    } finally q.stop()
  }

  test("rate limiter: token-bucket decisions match a driver replay; stream equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import streaming.RateLimit.refillUs
    // event times in refill-interval steps so the scenario is readable:
    // bucket cap 2, starts full — e1,e2 drain it, e3 (immediately after)
    // rejects, e4 one full refill later admits, e5 right after rejects
    // offset from a real base date: a row at epoch 0 ties the INITIAL
    // watermark and is dropped by the late-row filter before the state fn
    def rt(us: Long) = new Timestamp(t(0).getTime + us / 1000L)
    val evs = Seq(
      Ev(1, rt(0), 1, "view", 0),                      // admit (2 -> 1 tokens)
      Ev(2, rt(1000000L), 1, "view", 0),               // admit (1 -> 0)
      Ev(3, rt(2000000L), 1, "view", 0),               // reject (≈0 tokens)
      Ev(4, rt(2000000L + refillUs), 1, "view", 0),    // admit (refilled 1)
      Ev(5, rt(3000000L + refillUs), 1, "view", 0))    // reject again
    val batch = streaming.RateLimit.rateDecisions(evs.toDF())
      .orderBy($"event_id").select($"event_id", $"admitted").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(batch == Seq((1L, 1), (2L, 1), (3L, 0), (4L, 1), (5L, 0)),
      s"bucket semantics wrong: $batch")

    val mem = MemoryStream[Ev]
    val q = streaming.RateLimit.rateLimitStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("ratelimit")
      .outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      mem.addData(Ev(99, rt(refillUs * 10), 99, "view", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("ratelimit").filter($"user_id" < 99)
        .orderBy($"event_id").select($"event_id", $"admitted").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got == batch, s"stream diverged from batch twin: $got vs $batch")
    } finally q.stop()
  }

  test("PIT tiers: stream tags activities with the tier active at event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: views before any purchase (tier -1), purchase 50 (tier 2),
    // views, purchase 120 (tier 4) arriving OUT OF ORDER but within the
    // watermark budget, a view at that purchase's EXACT ts (belongs to
    // the NEW interval), a later view; user 2: never purchases
    val evs = Seq(
      Ev(1, t(0), 1, "view", 0),            // tier -1
      Ev(2, t(10), 1, "purchase", 50.0),    // -> tier 2
      Ev(3, t(20), 1, "view", 0),           // tier 2
      Ev(4, t(35), 1, "purchase", 120.0),   // -> tier 4 (late arrival)
      Ev(5, t(30), 1, "view", 0),           // before the late purchase: 2
      Ev(6, t(40), 1, "view", 0),           // tier 4
      Ev(7, t(15), 2, "view", 0),           // tier -1
      Ev(8, t(35), 1, "view", 0),           // same ts as purchase: tier 4
      Ev(9, t(50), 1, "view", 0))           // tier 4
    val batch = streaming.PitTiers.activityTiers(evs.toDF())
      .orderBy($"user_id", $"event_id")
      .select($"event_id", $"tier").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(batch == Seq((1L, -1), (3L, 2), (5L, 2), (6L, 4), (8L, 4),
      (9L, 4), (7L, -1)),
      s"batch PIT semantics wrong: $batch")

    val mem = MemoryStream[Ev]
    val q = streaming.PitTiers.pitTierStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("pittiers")
      .outputMode("append").start()
    try {
      // batch 1 ends at t(40): watermark t(30). The t(35) purchase and
      // same-ts view arrive in batch 2 — out of order but allowed.
      mem.addData(evs.filter(e => e.event_id <= 3 || e.event_id == 5 ||
        e.event_id == 6 || e.event_id == 7): _*)
      q.processAllAvailable()
      mem.addData(Ev(4, t(35), 1, "purchase", 120.0),
        Ev(8, t(35), 1, "view", 0), Ev(9, t(50), 1, "view", 0))
      q.processAllAvailable()
      mem.addData(Ev(99, t(10000), 99, "view", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("pittiers").filter($"user_id" < 99)
        .orderBy($"user_id", $"event_id")
        .select($"event_id", $"tier").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got == batch, s"stream diverged from batch twin: $got vs $batch")
    } finally q.stop()
  }

  test("rate limiter state spans micro-batches and re-sorts late arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.RateLimit.rateLimitStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("ratelimit2")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, t(10), 1, "view", 0))
      q.processAllAvailable()
      // t(12) arrives before t(11): folded in event-time order the
      // bucket drains on events 1,2 and rejects event 3 (the t(12) one)
      mem.addData(Ev(3, t(12), 1, "view", 0), Ev(2, t(11), 1, "view", 0))
      q.processAllAvailable()
      mem.addData(Ev(99, t(10000), 99, "view", 0))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("ratelimit2").filter($"user_id" < 99)
        .orderBy($"event_id").select($"event_id", $"admitted").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got == Seq((1L, 1), (2L, 1), (3L, 0)), s"got $got")
    } finally q.stop()
  }

  test("e13 ooo audit: lateness vs running max, state spans micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.OooAudit.oooStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("ooo1")
      .outputMode("append").start()
    try {
      // one event per micro-batch: arrival IS batch order, so the
      // in-batch md5 tie-break never reorders anything here
      mem.addData(Ev(1, t(10), 1, "view", 0))
      q.processAllAvailable()
      // t(5) arrives after t(10) was seen → 300 s late; the running max
      // must have survived the micro-batch boundary
      mem.addData(Ev(2, t(5), 1, "view", 0))
      q.processAllAvailable()
      mem.addData(Ev(3, t(20), 1, "view", 0))
      q.processAllAvailable()
      mem.addData(Ev(4, t(18), 1, "view", 0))
      q.processAllAvailable()
      val got = spark.table("ooo1").orderBy($"event_id")
        .select($"event_id", $"late_s").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 0L), (2L, 300L), (3L, 0L), (4L, 120L)),
        s"got $got")
    } finally q.stop()
  }

  test("e21 streaming first-touch converges to the batch canonical frame " +
      "across an inverted epoch boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Tables.events(spark, sf)
    // feed LATER epochs first: trigger 1 = decades 1-2, trigger 2 =
    // decade 0 — the worst-case out-of-order arrival; the keyed
    // min-merge must still converge to the batch rn=1 frame
    val rows = ev.select($"user_id", $"event_type", $"ts", $"event_id",
        $"value").collect()
      .map(r => streaming.TouchEv(r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4)))
    val (later, first) = rows.partition(e =>
      (e.ts.toLocalDateTime.getDayOfMonth - 1) / 10 >= 1)
    val mem = MemoryStream[streaming.TouchEv]
    val q = streaming.FirstTouch.firstTouchStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("ft1")
      .outputMode("update").start()
    try {
      mem.addData(later.toSeq: _*); q.processAllAvailable()
      mem.addData(first.toSeq: _*); q.processAllAvailable()
      // converged state per key = the minimal emission (merge is a
      // monotone min, so min over update-mode emissions IS the state)
      val got = spark.table("ft1").collect()
        .map(r => ((r.getLong(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).minBy(t => (t._1, t._2))).toMap
      val batch = streaming.FirstTouch.canonical(ev).collect()
        .map(r => ((r.getLong(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == batch && batch.nonEmpty)
      // the fixture genuinely exercises the dedup path
      assert(rows.length > batch.size,
        "fixture has no duplicate (user, event_type) keys")
    } finally q.stop()
  }

  test("e21 census accounting identities hold on the fixture") {
    import spark.implicits._
    val c = streaming.FirstTouch.e21FirstTouch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(c.nonEmpty)
    // dups = arrivals - first touches, epoch by epoch
    assert(c.forall { case (_, arr, fst, dup, _) => dup == arr - fst })
    // cumulative uniques are the running sum and end at the key count
    assert(c.map(_._3).sum == c.last._5)
    val keys = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"event_type").distinct().count()
    assert(c.last._5 == keys)
  }

  test("e13 stream lateness rollup equals the batch twin on fixture data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def md5hex(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val evs = graft.sources.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .sortBy(e => (md5hex(e.event_id), e.event_id))
    val mem = MemoryStream[Ev]
    val q = streaming.OooAudit.oooStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("ooo2")
      .outputMode("append").start()
    try {
      // two micro-batches, fed in the simulated (md5-scrambled) arrival
      // order the batch twin folds in — split preserves that order
      val (h1, h2) = evs.splitAt(evs.length / 2)
      mem.addData(h1: _*); q.processAllAvailable()
      mem.addData(h2: _*); q.processAllAvailable()
      val per = spark.table("ooo2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val agg = per.groupBy(_._1).toSeq.map { case (u, xs) =>
        (u, xs.length.toLong, xs.count(_._3 > 0L).toLong, xs.map(_._3).max)
      }.sortBy(_._1)
      val batch = streaming.OooAudit.e13OooAudit(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(agg == batch)
      assert(batch.exists(_._3 > 0L), "fixture has no out-of-order events")
    } finally q.stop()
  }

  test("e20 watermark advisor matches a brute lateness-percentile replay") {
    import spark.implicits._
    def md5hex(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val lates = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"event_id",
        org.apache.spark.sql.functions.unix_timestamp($"ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).values.flatMap { evs =>
        var mx = Long.MinValue
        evs.sortBy(e => (md5hex(e._2), e._2)).map { case (_, _, sec) =>
          val l = if (mx != Long.MinValue && mx > sec) mx - sec else 0L
          if (sec > mx) mx = sec
          l
        }
      }.toSeq.sorted
    val n = lates.length
    def pct(q: Double): Long = lates(math.ceil(q * n).toInt - 1)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = streaming.OooAudit.e20WatermarkAdvisor(spark, sf).head()
    assert(row.getLong(0) == n.toLong)
    assert(row.getLong(1) == lates.count(_ > 0L).toLong)
    assert(row.getLong(2) == pct(0.50) && row.getLong(3) == pct(0.95) &&
      row.getLong(4) == pct(0.99))
    assert(row.getLong(5) == lates.max)
    assert(row.getLong(6) == row.getLong(4)) // advised = p99
    val covered = lates.count(_ <= pct(0.99)).toLong
    assert(row.getDouble(7) == r4(covered.toDouble / n.toDouble))
    // the advice is non-trivial on the fixture: some lateness exists
    assert(row.getLong(5) > 0L && row.getDouble(7) >= 0.99)
  }

  test("budget state carries the running total across micro-batches, re-sorting late arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.Budget.budgetAlertStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("budget2")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, t(10), 1, "purchase", 60.0))
      q.processAllAvailable()
      // arrives out of order: the t(12) event would cross IF folded after
      // t(11); correct order folds 60+30=90 (no cross) then +20=110 (cross
      // at event 3, the t(12) one)
      mem.addData(Ev(3, t(12), 1, "purchase", 20.0),
        Ev(2, t(11), 1, "purchase", 30.0))
      q.processAllAvailable()
      mem.addData(Ev(99, t(10000), 99, "purchase", 0))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("budget2").filter($"user_id" < 99)
        .select($"event_id", $"cum_cents", $"tier").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(got == Seq((3L, 11000L, 1)), s"got $got")
    } finally q.stop()
  }

  test("funnel state persists across micro-batches and sorts out-of-order arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = streaming.Funnel.sessionFunnelStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("funnel2")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, t(10), 1, "view", 0))
      q.processAllAvailable()
      // same session, next micro-batch, purchase ARRIVES before the click
      // it depends on — the state buffer must re-sort by event time
      mem.addData(Ev(2, t(12), 1, "purchase", 0), Ev(3, t(11), 1, "click", 0))
      q.processAllAvailable()
      mem.addData(Ev(99, t(10000), 99, "view", 0))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = funnelRows(spark.table("funnel2").filter($"user_id" < 99).collect())
      assert(got == Seq((1L, t(10), 3L, 3)),
        s"state lost or mis-ordered across batches: $got")
    } finally q.stop()
  }

  test("streaming sessionization equals the batch answer when drained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.sessionsStream(mem.toDF())
      .writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      val got = spark.table("sess")
        .orderBy($"user_id", $"session_start").collect()
      val exp = EventStreams.sessions(evs.toDF())
        .select($"session_start", $"user_id", $"n_events", $"sum_value")
        .orderBy($"user_id", $"session_start").collect()
      assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
      // user 1: {e1,e2} then {e3}; user 2: {e4} then {e5}
      assert(got.length == 4)
    } finally q.stop()
  }

  test("incremental covariance over micro-batches equals the batch pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val full = graft.sources.Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val batchStats = graft.ml.Cov.stats(full, "embedding")
    val rows = full.collect()
      .map(r => EmbRow(r.getLong(0), r.getSeq[Double](1).toArray))
    val inc = new graft.streaming.IncrementalCov("embedding")
    val mem = MemoryStream[EmbRow]
    val q = mem.toDF().writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => inc.update(df))
      .outputMode("append").start()
    try {
      // three uneven micro-batches, plus an empty trigger
      rows.grouped(math.max(rows.length / 3, 1)).foreach { g =>
        mem.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      q.processAllAvailable()
    } finally q.stop()
    assert(inc.rowCount == batchStats.m, "row counts diverged")
    val incStats = inc.stats
    val n = batchStats.mean.length
    val sm = incStats.secondMoment
    for (i <- 0 until n; j <- 0 until i)
      assert(java.lang.Double.doubleToRawLongBits(sm(i, j)) ==
        java.lang.Double.doubleToRawLongBits(sm(j, i)), s"secondMoment($i,$j) not symmetric")
    (0 until n).foreach { i =>
      assert(math.abs(incStats.mean(i) - batchStats.mean(i)) <= 1e-12)
    }
    val bc = batchStats.covariance
    val ic = incStats.covariance
    var maxDiff = 0.0
    (0 until n).foreach { j => (0 until n).foreach { i =>
      maxDiff = math.max(maxDiff, math.abs(bc(i, j) - ic(i, j))) } }
    assert(maxDiff <= 1e-12, s"covariance diverged by $maxDiff")
  }

  test("streaming trending top-k equals the batch twin once windows seal") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two 6-hour windows; ranks exercise both count ordering and the
    // event_type tie-break (view=3 > click=2 > buy=1; w2: click=2 >
    // buy=1 = view=1 → alphabetical)
    val trend = Seq(
      Ev(1, t(0), 1, "view", 0), Ev(2, t(10), 1, "view", 0),
      Ev(3, t(20), 2, "view", 0), Ev(4, t(30), 2, "click", 0),
      Ev(5, t(40), 1, "click", 0), Ev(6, t(50), 3, "buy", 0),
      Ev(7, t(400), 1, "click", 0), Ev(8, t(410), 2, "click", 0),
      Ev(9, t(420), 3, "buy", 0), Ev(10, t(430), 1, "view", 0))
    val mem = MemoryStream[Ev]
    val q = streaming.Trending.trendingStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("trend")
      .outputMode("append").start()
    try {
      mem.addData(trend: _*)
      q.processAllAvailable()
      mem.addData(Ev(99, t(100000), 99, "sentinel", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("trend")
        .filter($"event_type" =!= "sentinel")
        .orderBy($"window_start", $"rk").collect().map(_.toString).toSeq
      val exp = streaming.Trending.trending(trend.toDF())
        .orderBy($"window_start", $"rk").collect().map(_.toString).toSeq
      assert(got == exp, s"stream diverged from batch twin: $got vs $exp")
      assert(got.size == 6) // two sealed windows x top-3
    } finally q.stop()
  }

  test("e15 CDC compaction stream equals the batch twin across bursts and OOO arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: burst (t0, t10 incl. same-ts tie by event_id), 6h+ gap,
    // burst (t400, t401); user 2: single change. Arrival order is
    // scrambled so the sealed-buffer reordering is actually exercised.
    val evs = Seq(
      Ev(1, t(1), 1, "add", 1.25), Ev(2, t(10), 1, "upd", 2.50),
      Ev(3, t(10), 1, "upd", 3.75), Ev(4, t(400), 1, "upd", 7.00),
      Ev(5, t(401), 1, "del", 0.00), Ev(6, t(5), 2, "add", 9.99))
    val mem = MemoryStream[Ev]
    val q = streaming.Compact.compactStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("cdc")
      .outputMode("append").start()
    try {
      // out-of-order WITHIN the 10-min watermark delay: t1 arrives
      // after t10 (wm = t10 - 10min = t0 < t1; the equal-to-watermark
      // case is late-DROPPED by Spark, so stay strictly above)
      mem.addData(evs(1))
      q.processAllAvailable()
      mem.addData(evs(2), evs(0), evs(5))
      q.processAllAvailable()
      mem.addData(evs(3), evs(4))
      q.processAllAvailable()
      mem.addData(Ev(99, t(100000), 99, "sentinel", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("cdc").filter($"user_id" =!= 99)
        .orderBy($"user_id", $"last_ts_ms").collect().map(_.toString).toSeq
      val exp = streaming.Compact.compacted(evs.toDF())
        .orderBy($"user_id", $"last_ts_ms").collect().map(_.toString).toSeq
      assert(got == exp, s"stream diverged from batch twin: $got vs $exp")
      // two bursts for user 1 + one for user 2
      assert(got.size == 3)
    } finally q.stop()
  }

  test("e16 deterministic window sample stream equals the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 8 events in window 1 (> k, so displacement happens), 3 in window 2
    val evs = (1L to 8L).map(i => Ev(i, t(i.toInt * 10), i, s"et$i", 0)) ++
      Seq(Ev(20, t(400), 20, "a", 0), Ev(21, t(410), 21, "b", 0),
        Ev(22, t(420), 22, "c", 0))
    val mem = MemoryStream[Ev]
    val q = streaming.Sample.sampleStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("samp")
      .outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      mem.addData(Ev(99, t(100000), 99, "sentinel", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("samp").filter($"event_type" =!= "sentinel")
        .orderBy($"window_start", $"rk").collect().map(_.toString).toSeq
      val exp = streaming.Sample.sampled(evs.toDF())
        .orderBy($"window_start", $"rk").collect().map(_.toString).toSeq
      assert(got == exp, s"stream diverged from batch twin: $got vs $exp")
      // window 1 keeps exactly k of its 8 events; window 2 all 3
      assert(got.size == streaming.Sample.sampleK + 3)
    } finally q.stop()
  }

  test("e17 streaming SCD2 history equals the batch lead-window twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: 4 versions incl. a same-ts tie; user 2: single version.
    // OOO within the watermark delay (t1 after t10); gaps << horizon.
    val evs = Seq(
      Ev(1, t(1), 1, "add", 1.00), Ev(2, t(10), 1, "upd", 2.00),
      Ev(3, t(10), 1, "upd", 3.00), Ev(4, t(300), 1, "del", 0.00),
      Ev(5, t(7), 2, "add", 9.00))
    val mem = MemoryStream[Ev]
    val q = streaming.Scd2Stream.scd2Stream(spark, mem.toDF())
      .writeStream.format("memory").queryName("scd2s")
      .outputMode("append").start()
    try {
      mem.addData(evs(1))
      q.processAllAvailable()
      mem.addData(evs(2), evs(0), evs(4))
      q.processAllAvailable()
      mem.addData(evs(3))
      q.processAllAvailable()
      // sentinel far past lastTs + horizon (30d) so open versions flush
      mem.addData(Ev(99, t(100000), 99, "sentinel", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("scd2s").filter($"user_id" =!= 99)
        .orderBy($"user_id", $"version").collect().map(_.toString).toSeq
      val exp = streaming.Scd2Stream.versions(evs.toDF())
        .orderBy($"user_id", $"version").collect().map(_.toString).toSeq
      assert(got == exp, s"stream diverged from batch twin: $got vs $exp")
      assert(got.size == 5) // 4 versions for user 1 + 1 for user 2
    } finally q.stop()
  }

  test("e19 gap alerts stream equals the batch twin across OOO arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: t2,t10 .. 6.5h hole .. t400,t420 (one gap);
    // user 2: t5 .. 13h+ hole .. t800 (one gap)
    val b1 = Seq(Ev(2, t(10), 1, "view", 0), Ev(3, t(5), 2, "view", 0))
    val late = Ev(1, t(2), 1, "view", 0) // OOO, still above watermark
    val b2 = Seq(late, Ev(4, t(400), 1, "view", 0))
    val b3 = Seq(Ev(5, t(420), 1, "view", 0), Ev(6, t(800), 2, "view", 0))
    val all = b1 ++ b2 ++ b3
    val mem = MemoryStream[Ev]
    val q = streaming.GapAlerts.gapStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("gaps")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      mem.addData(b3: _*)
      q.processAllAvailable()
      mem.addData(Ev(999, t(100000), 99, "sentinel", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("gaps")
        .filter($"user_id" =!= 99)
        .orderBy($"user_id", $"gap_end_ms").collect().map(_.toString).toSeq
      val exp = streaming.GapAlerts.gapAlerts(all.toDF())
        .orderBy($"user_id", $"gap_end_ms").collect().map(_.toString).toSeq
      assert(got == exp, s"stream diverged from batch twin: $got vs $exp")
      assert(got.size == 2) // exactly the two engineered holes
    } finally q.stop()
  }

  test("e18 control chart stream equals the batch twin across OOO arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var id = 0L
    def burst(hour: Int, n: Int, tpe: String, off: Int = 1): Seq[Ev] =
      (0 until n).map { i => id += 1; Ev(id, t(hour * 60 + off + i), 1, tpe, 0) }
    // view: 4,4,4,9 per hour → h3 is 9 vs EWMA≈4 → crit;
    // click: 5,3,4 → h1 is 3 vs baseline 5 (3 ≤ 0.6·5) → warn
    val b1 = burst(0, 3, "view") ++ burst(0, 5, "click") ++
      burst(1, 4, "view") ++ burst(1, 3, "click")
    val late = burst(0, 1, "view", off = 58) // OOO, still above watermark
    val b2 = late ++ burst(2, 4, "view") ++ burst(2, 4, "click") ++
      burst(3, 9, "view")
    val all = b1 ++ b2
    val mem = MemoryStream[Ev]
    val q = streaming.ControlChart.chartStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("chart")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*)   // wm = t(64)-10min → h0 still open
      q.processAllAvailable()
      mem.addData(b2: _*)   // the t(58) view event must still count
      q.processAllAvailable()
      mem.addData(Ev(999, t(100000), 99, "sentinel", 0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout flush batch
      val got = spark.table("chart")
        .filter($"event_type" =!= "sentinel")
        .orderBy($"event_type", $"hr_ts").collect().map(_.toString).toSeq
      val exp = streaming.ControlChart.controlChart(all.toDF())
        .orderBy($"event_type", $"hr_ts").collect().map(_.toString).toSeq
      assert(got == exp, s"stream diverged from batch twin: $got vs $exp")
      assert(got.size == 7) // 4 view hours + 3 click hours
      val levels = spark.table("chart").filter($"event_type" =!= "sentinel")
        .select("level").collect().map(r => Option(r.getString(0))).toSeq
      assert(levels.contains(Some("crit")) && levels.contains(Some("warn")))
    } finally q.stop()
  }

  test("streaming IVF ingest census equals the s22 batch twin across " +
      "out-of-order epoch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val ing = graft.streaming.IvfIngest.fit(
      emb.filter($"vec_id" % Similarity.ingestMod =!= 0))
    val newRows = emb.filter($"vec_id" % Similarity.ingestMod === 0)
      .select($"vec_id", $"embedding").collect()
      .map { r =>
        val id = r.getLong(0)
        IngestVec((id / Similarity.ingestMod) % Similarity.numIngestBatches,
          id, r.getSeq[Float](1).toArray)
      }
    val by = newRows.groupBy(_.batch_id)
      .view.mapValues(_.toSeq).toMap.withDefaultValue(Seq.empty)
    // deliberately out of order: epoch 2 first, then epoch 0 SPLIT
    // across two triggers with epoch 1 interleaved between its halves
    val e0 = by(0L)
    val triggers = Seq(by(2L), e0.take(e0.length / 2) ++ by(1L),
      e0.drop(e0.length / 2))
    val mem = MemoryStream[IngestVec]
    val q = mem.toDF().writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        ing.update(df))
      .outputMode("append").start()
    try {
      triggers.foreach { g =>
        mem.addData(g: _*)
        q.processAllAvailable()
      }
      q.processAllAvailable() // one empty trigger (no-op fold)
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val got = ing.census(spark).collect().map(key).toSeq
    val exp = Similarity.s22IndexIngest(spark, sf).collect().map(key).toSeq
    assert(got == exp && got.nonEmpty)
    // the fixture exercised a real out-of-order split
    assert(e0.length >= 2 && by(1L).nonEmpty && by(2L).nonEmpty)
  }

  test("IvfIngest built from a persisted GraftIVF artifact equals fit()") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val old = emb.filter($"vec_id" % Similarity.ingestMod =!= 0)
    // production path: fit the index ONCE, persist, load, ingest
    val dir = java.nio.file.Files.createTempDirectory("ivf_art").toString
    new graft.ml.feature.GraftIVF().setK(16).setMaxIter(2)
      .fit(old).write.overwrite().save(dir)
    val loaded = graft.ml.feature.GraftIVFModel.load(dir)
    val viaArtifact = graft.streaming.IvfIngest.fromModel(loaded, old)
    val viaFit = graft.streaming.IvfIngest.fit(old)
    assert(viaArtifact.centroids.map(_.toSeq).toSeq ==
      viaFit.centroids.map(_.toSeq).toSeq)
    assert(viaArtifact.oldCensus == viaFit.oldCensus &&
      viaArtifact.oldCensus.nonEmpty)
  }

  test("snapshot change feed streams committed versions and equals the batch feed") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    import graft.streaming.SnapshotFeed
    val t = java.nio.file.Files.createTempDirectory("graft_feed").toString + "/tbl"
    val ck = java.nio.file.Files.createTempDirectory("graft_feed_ck").toString
    // ≥3 committed versions, one landed through the exactly-once path,
    // with a replayed batch no-op in between
    SnapshotTable.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    assert(SnapshotTable.appendBatch(
      Seq((3L, "c")).toDF("id", "v"), t, 1L).contains(2L))
    assert(SnapshotTable.appendBatch(
      Seq((3L, "c")).toDF("id", "v"), t, 1L).isEmpty) // retry: no version
    SnapshotTable.appendSnapshot(Seq((4L, "d")).toDF("id", "v"), t)
    // memory sinks cannot recover from a checkpoint, so the
    // checkpointed consumers land through foreachBatch buffers
    val buf1 = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)]
    val buf2 = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)]
    def sink(buf: scala.collection.mutable.ArrayBuffer[(Long, String, Long)])(
        batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long): Unit = buf.synchronized {
      buf ++= batch.collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(r.fieldIndex("_commit_version"))))
    }
    val q = SnapshotFeed.readStream(spark, t)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch(sink(buf1) _).outputMode("append").start()
    try {
      q.processAllAvailable()
      // stream ≡ batch over the committed history
      val batchFeed = SnapshotTable.changesBetween(spark, t, 0L)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(r.fieldIndex("_commit_version")))).sortBy(_._1).toSeq
      assert(buf1.synchronized(buf1.sortBy(_._1).toSeq) == batchFeed)
      assert(batchFeed == Seq((1L, "a", 1L), (2L, "b", 1L),
        (3L, "c", 2L), (4L, "d", 3L)))
      // a LIVE append flows through as the next micro-batch
      SnapshotTable.appendSnapshot(Seq((5L, "e")).toDF("id", "v"), t)
      q.processAllAvailable()
      assert(buf1.synchronized(buf1.map(_._1).contains(5L)))
      // a compaction commit must NOT re-emit its rewritten rows
      SnapshotTable.compact(spark, t, targetBytes = 64L << 20)
      q.processAllAvailable()
      assert(buf1.synchronized(buf1.length) == 5)
    } finally q.stop()
    // restart on the same checkpoint: version offsets recover, so only
    // versions committed AFTER the stop are emitted (exactly-once)
    SnapshotTable.appendSnapshot(Seq((6L, "f")).toDF("id", "v"), t)
    val q2 = SnapshotFeed.readStream(spark, t)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch(sink(buf2) _).outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(buf2.synchronized(buf2.toSeq) == Seq((6L, "f", 6L)))
    } finally q2.stop()
    // startingVersion resumes an independent consumer mid-history
    def drained(table: String) = spark.table(table)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(r.fieldIndex("_commit_version")))).sortBy(_._1).toSeq
    val mid = SnapshotFeed.readStream(spark, t, startingVersion = 2L)
    val q3 = mid.writeStream.format("memory").queryName("snapfeed3")
      .outputMode("append").start()
    try {
      q3.processAllAvailable()
      assert(drained("snapfeed3").map(_._1).sorted == Seq(4L, 5L, 6L))
    } finally q3.stop()
  }

  test("change feed rate limiting drains a backlog bounded and survives restart") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    import graft.streaming.SnapshotFeed
    val t = java.nio.file.Files.createTempDirectory("graft_rl").toString + "/tbl"
    val ck = java.nio.file.Files.createTempDirectory("graft_rl_ck").toString
    // a 5-version backlog committed BEFORE any consumer exists
    (1 to 5).foreach(i => if (i == 1)
        SnapshotTable.writeSnapshot(Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
      else SnapshotTable.appendSnapshot(
        Seq((i.toLong, s"v$i")).toDF("id", "v"), t))
    // per-micro-batch (batchId, version set) observations
    val seen = new scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]
    def sink(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long): Unit = seen.synchronized {
      val vs = batch.select("_commit_version").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      if (vs.nonEmpty) seen += ((id, vs))
    }
    def run(): Unit = {
      val q = SnapshotFeed.readStream(spark, t,
          maxVersionsPerTrigger = Some(2L))
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .foreachBatch(sink _).outputMode("append").start()
      q.awaitTermination()
    }
    // Trigger.Once = exactly one micro-batch per run: the 5-version
    // backlog must take 3 bounded runs (2 + 2 + 1), each RESTARTING
    // from the checkpoint mid-backlog — no loss, no dup, in order
    run()
    assert(seen.synchronized(seen.toSeq).map(_._2) == Seq(Seq(1L, 2L)))
    run()
    run()
    val drained = seen.synchronized(seen.toSeq)
    assert(drained.map(_._2) == Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)),
      s"backlog did not drain bounded: $drained")
    // fully drained: another run emits nothing
    run()
    assert(seen.synchronized(seen.length) == 3)
    // a live long-running query with the same cap also drains bounded:
    // fresh checkpoint, processAllAvailable loops triggers until empty
    val ck2 = java.nio.file.Files.createTempDirectory("graft_rl_ck2").toString
    seen.synchronized(seen.clear())
    val q2 = SnapshotFeed.readStream(spark, t,
        maxVersionsPerTrigger = Some(2L))
      .writeStream.option("checkpointLocation", ck2)
      .foreachBatch(sink _).outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val live = seen.synchronized(seen.toSeq)
    assert(live.map(_._2).flatten == (1L to 5L),
      s"live drain lost or duplicated versions: $live")
    assert(live.forall(_._2.length <= 2),
      s"a micro-batch exceeded maxVersionsPerTrigger: $live")
    assert(live.length >= 3, s"backlog replayed unbounded: $live")
  }

  test("two-stage hub: CDC lands in T1, a feed consumer maintains T2 downstream") {
    // The D278 claim end-to-end: stream 1 lands raw events into table
    // T1 exactly-once; stream 2 consumes T1's CHANGE FEED (not the
    // upstream source) and maintains the derived census table T2 —
    // the composed shape a 100 TB pipeline actually runs, where every
    // downstream stage reads committed versions, never the firehose.
    import spark.implicits._
    import graft.sources.SnapshotTable
    import graft.streaming.{MvSnapshot, SnapshotFeed}
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val t1 = java.nio.file.Files.createTempDirectory("graft_hub_t1").toString + "/tbl"
    val t2 = java.nio.file.Files.createTempDirectory("graft_hub_t2").toString + "/tbl"
    val ck1 = java.nio.file.Files.createTempDirectory("graft_hub_ck1").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft_hub_ck2").toString
    val mem = MemoryStream[Ev]
    val batch1 = Seq(Ev(1, ts("2026-01-01 00:00:00"), 1, "view", 1.5),
      Ev(2, ts("2026-01-01 00:01:00"), 1, "purchase", 10.0))
    val batch2 = Seq(Ev(3, ts("2026-01-01 00:02:00"), 2, "view", 2.5),
      Ev(4, ts("2026-01-01 00:03:00"), 2, "purchase", 4.0))
    val q1 = SnapshotTable.streamAppend(mem.toDF(), t1, ck1)
    try {
      mem.addData(batch1: _*)
      q1.processAllAvailable() // T1 must exist before the feed opens
      val q2 = SnapshotFeed.readStream(spark, t1)
        .writeStream.option("checkpointLocation", ck2)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            MvSnapshot.applyBatch(b.drop("_commit_version").toDF(), t2, id)
            ()
        }
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        def mv2 = SnapshotTable.readSnapshot(spark, t2)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
        def twin(evs: Seq[Ev]) = MvSnapshot.mvOf(evs.toDF())
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
        assert(mv2 == twin(batch1))
        // second CDC batch flows T1 → feed → T2
        mem.addData(batch2: _*)
        q1.processAllAvailable()
        q2.processAllAvailable()
        assert(mv2 == twin(batch1 ++ batch2))
        // an upstream retry commits no T1 version, so the feed emits
        // nothing and T2 cannot double-count
        val replay = SnapshotTable.readSnapshot(spark, t1, 1)
        assert(SnapshotTable.appendBatch(replay, t1, 1L).isEmpty)
        q2.processAllAvailable()
        assert(mv2 == twin(batch1 ++ batch2))
        // both stages hold versioned history: T1 a version per CDC
        // batch, T2 a version per feed refresh
        assert(SnapshotTable.versions(spark, t1) == Seq(1L, 2L))
        assert(SnapshotTable.versions(spark, t2) == Seq(1L, 2L))
      } finally q2.stop()
    } finally q1.stop()
  }

  test("change-type-aware MV survives upstream MERGE and DELETE commits") {
    // The D286 claim end-to-end: a downstream incremental MV consuming
    // the change feed across a copy-on-write MERGE (and a DELETE)
    // converges to the batch twin of the upstream table's CURRENT
    // contents — the round-13 double-count footgun, closed. Pre/post
    // images subtract the old row and add the new one; rewritten-but-
    // unchanged rows never reach the feed.
    import spark.implicits._
    import graft.sources.SnapshotTable
    import graft.streaming.{MvSnapshot, SnapshotFeed}
    val t1 = java.nio.file.Files.createTempDirectory("graft_cdfmv_t1").toString + "/tbl"
    val t2 = java.nio.file.Files.createTempDirectory("graft_cdfmv_t2").toString + "/tbl"
    val ck = java.nio.file.Files.createTempDirectory("graft_cdfmv_ck").toString
    def rows(r: (Long, String, Double)*) =
      r.toSeq.toDF("id", "event_type", "value")
    SnapshotTable.writeSnapshot(rows((1L, "view", 1.5), (2L, "view", 2.5),
      (3L, "purchase", 10.0)), t1)
    def consume(): Unit = {
      val q = SnapshotFeed.readStream(spark, t1)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            MvSnapshot.applyChangeBatch(
              b.drop("_commit_version").toDF(), t2, id)
            ()
        }
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    def mv = SnapshotTable.readSnapshot(spark, t2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    def twin = MvSnapshot.mvOf(SnapshotTable.readSnapshot(spark, t1))
      .filter($"n_events" > 0L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    consume()
    assert(mv == twin && mv.nonEmpty)
    // copy-on-write MERGE: reclassify id 2 (view -> purchase, new
    // value) and insert id 4 — the feed must subtract 2's preimage
    SnapshotTable.merge(rows((2L, "purchase", 4.0), (4L, "view", 0.5)),
      t1, Seq("id"))
    consume()
    assert(mv == twin)
    // stats-pruned MERGE drives the same algebra
    SnapshotTable.mergePruned(rows((1L, "click", 9.0)), t1, "id")
    consume()
    assert(mv == twin)
    // DELETE WHERE: id 3 leaves; its census must come back out (and
    // the now-empty type drops out of the view entirely)
    SnapshotTable.deleteWhere(spark, t1, "id",
      BigDecimal(3), BigDecimal(3))
    consume()
    assert(mv == twin)
    assert(!mv.exists(_._1 == "purchase") ||
      mv.filter(_._1 == "purchase").head._2 > 0L)
  }
}

/** Row type for the incremental-covariance stream. */
case class EmbRow(vec_id: Long, embedding: Array[Double])

/** Row type for the streaming IVF-ingest epochs. */
case class IngestVec(batch_id: Long, vec_id: Long, embedding: Array[Float])
