package graft.streaming

import java.nio.file.Files

import graft.TestSession.withConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming transforms driven through MemoryStream → memory sink. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  /** The state-v2 API (transformWithState) requires RocksDB state. */
  private val RocksDbStateStore =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("windowed totals aggregate by event-time window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreaming.Event]
    input.addData(
      EventStreaming.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 10.0),
      EventStreaming.Event(2, ts("2024-01-01 10:45:00"), 2, "click", 5.0),
      EventStreaming.Event(3, ts("2024-01-01 11:05:00"), 1, "view", 2.0))
    val q = EventStreaming.windowedTotals(input.toDF())
      .writeStream.format("memory").queryName("wt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits only closed windows; push the watermark past
      input.addData(EventStreaming.Event(4,
        ts("2024-01-01 23:00:00"), 3, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wt").collect()
      val clicks10 = rows.find(r =>
        r.getAs[String]("event_type") == "click" &&
          r.getAs[java.sql.Timestamp]("window_start")
            .toString.startsWith("2024-01-01 10:00"))
      assert(clicks10.isDefined)
      assert(clicks10.get.getAs[Double]("total_value") == 15.0)
      assert(clicks10.get.getAs[Long]("n_events") == 2)
    } finally q.stop()
  }

  test("lateDrops accounts for rows the watermark silently discards") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreaming.Event]
    // batch 1 sets max event time to 23:00 → watermark = 21:00
    input.addData(
      EventStreaming.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      EventStreaming.Event(2, ts("2024-01-01 23:00:00"), 2, "click", 1.0))
    val q = EventStreaming.windowedTotals(input.toDF())
      .writeStream.format("memory").queryName("latedrop")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(EventStreaming.lateDrops(q) == 0L)
      // batch 2: one on-time row and one BEYOND the 2h watermark
      input.addData(
        EventStreaming.Event(3, ts("2024-01-01 22:30:00"), 3, "view", 1.0),
        EventStreaming.Event(4, ts("2024-01-01 10:10:00"), 4, "click", 9.0))
      q.processAllAvailable()
      assert(EventStreaming.lateDrops(q) == 1L,
        q.recentProgress.map(_.stateOperators.map(
          _.numRowsDroppedByWatermark).mkString(",")).mkString(";"))
      // the dropped row's value never reaches the 10:00 window
      input.addData(EventStreaming.Event(5,
        ts("2024-01-02 23:00:00"), 5, "click", 1.0))
      q.processAllAvailable()
      val w10 = spark.table("latedrop").collect().find(r =>
        r.getAs[java.sql.Timestamp]("window_start")
          .toString.startsWith("2024-01-01 10:00") &&
          r.getAs[String]("event_type") == "click")
      assert(w10.isDefined && w10.get.getAs[Double]("total_value") == 1.0)
    } finally q.stop()
  }

  test("sessionize: emitOpen flushes trailing sessions for batch use") {
    val s = spark
    import s.implicits._
    val events = Seq(
      EventStreaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventStreaming.Event(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
      EventStreaming.Event(3, ts("2024-01-01 12:00:00"), 1, "view", 3.0),
      EventStreaming.Event(4, ts("2024-01-01 09:00:00"), 2, "view", 5.0)
    ).toDS()
    val sess = EventStreaming.sessionize(events, emitOpen = true)
      .collect().sortBy(r => (r.user_id, r.session_start.getTime))
    // user 1: burst + trailing singleton; user 2: single trailing
    assert(sess.length == 3)
    assert(sess(0).n_events == 2 && sess(0).total_value == 3.0)
    assert(sess(1).n_events == 1 && sess(1).total_value == 3.0)
    assert(sess(2).user_id == 2 && sess(2).n_events == 1)
  }

  test("transformWithState: event-time timers close idle sessions") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[EventStreaming.Event]
      input.addData(
        EventStreaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        EventStreaming.Event(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
        EventStreaming.Event(3, ts("2024-01-01 12:00:00"), 1, "view", 3.0))
      val q = EventStreaming.sessionizeTws(input.toDS())
        .writeStream.format("memory").queryName("tws_sess")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // burst 1 closed by DATA (event 3 arrived past the gap)
        val afterData = spark.table("tws_sess").collect()
        assert(afterData.length == 1)
        assert(afterData(0).getAs[Long]("n_events") == 2 &&
          afterData(0).getAs[Double]("total_value") == 3.0)
        // push the watermark past 12:00 + 30 min via an unrelated user;
        // the TIMER (not data) must close user 1's open session. Two
        // rounds: watermark computed at end of batch N applies in N+1.
        input.addData(EventStreaming.Event(4,
          ts("2024-01-01 23:00:00"), 99, "click", 7.0))
        q.processAllAvailable()
        input.addData(EventStreaming.Event(5,
          ts("2024-01-01 23:01:00"), 99, "click", 1.0))
        q.processAllAvailable()
        val rows = spark.table("tws_sess").collect()
          .filter(_.getAs[Long]("user_id") == 1)
          .sortBy(_.getAs[java.sql.Timestamp]("session_start").getTime)
        assert(rows.length == 2, rows.mkString(";"))
        assert(rows(1).getAs[Long]("n_events") == 1 &&
          rows(1).getAs[Double]("total_value") == 3.0)
        assert(rows(1).getAs[java.sql.Timestamp]("session_end").toString
          .startsWith("2024-01-01 12:00"))
      } finally q.stop()
    }
  }

  test("initial-state bootstrap: batch open sessions survive cutover") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      // batch backfill left user 1 with an OPEN session (2 events, last
      // seen 09:50) and user 2 with one (last seen 08:00)
      val initial = Seq(
        1L -> EventStreaming.SessionState(
          ts("2024-01-01 09:40:00").getTime,
          ts("2024-01-01 09:50:00").getTime, 2, 4.0),
        2L -> EventStreaming.SessionState(
          ts("2024-01-01 08:00:00").getTime,
          ts("2024-01-01 08:00:00").getTime, 1, 9.0)).toDS()
      val input = MemoryStream[EventStreaming.Event]
      // user 1's first STREAM event lands within the gap of the
      // bootstrapped session → must extend it, not start a new one
      input.addData(
        EventStreaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      val q = EventStreaming
        .sessionizeBootstrapped(input.toDS(), initial)
        .writeStream.format("memory").queryName("boot_sess")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // advance the watermark far past both deadlines (two rounds: the
        // watermark computed at the end of batch N applies in N+1)
        input.addData(EventStreaming.Event(9,
          ts("2024-01-01 23:00:00"), 99, "click", 0.0))
        q.processAllAvailable()
        input.addData(EventStreaming.Event(10,
          ts("2024-01-01 23:01:00"), 99, "click", 0.0))
        q.processAllAvailable()
        val rows = spark.table("boot_sess").collect()
        val u1 = rows.filter(_.getAs[Long]("user_id") == 1)
        assert(u1.length == 1, rows.mkString(";"))
        // bootstrapped 2 events + 1 stream event, values 4.0 + 1.0,
        // session start preserved from the BATCH state
        assert(u1(0).getAs[Long]("n_events") == 3)
        assert(u1(0).getAs[Double]("total_value") == 5.0)
        assert(u1(0).getAs[java.sql.Timestamp]("session_start").toString
          .startsWith("2024-01-01 09:40"))
        // user 2 saw NO stream events: the bootstrap-armed timer alone
        // must close it
        val u2 = rows.filter(_.getAs[Long]("user_id") == 2)
        assert(u2.length == 1, rows.mkString(";"))
        assert(u2(0).getAs[Long]("n_events") == 1 &&
          u2(0).getAs[Double]("total_value") == 9.0)
      } finally q.stop()
    }
  }

  test("MapState: per-channel sessions run concurrently under one user") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[EventStreaming.Event]
      // user 1 interleaves clicks and views; the 11:00 click is > 30 min
      // past the last CLICK (10:10) so the click session closes even
      // though a view arrived in between at 10:20
      input.addData(
        EventStreaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        EventStreaming.Event(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
        EventStreaming.Event(3, ts("2024-01-01 10:20:00"), 1, "view", 4.0),
        EventStreaming.Event(4, ts("2024-01-01 11:00:00"), 1, "click", 8.0))
      val q = EventStreaming.sessionizeByChannel(input.toDS())
        .writeStream.format("memory").queryName("ch_sess")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // click #1 closes by DATA (the 11:00 click is past its gap); the
        // view closes by TIMER already here — the 11:00 event pushes the
        // 0-delay watermark past the view's 10:50 idle deadline
        val firstBatch = spark.table("ch_sess").collect()
          .sortBy(_.getAs[String]("channel"))
        assert(firstBatch.length == 2, firstBatch.mkString(";"))
        assert(firstBatch(0).getAs[String]("channel") == "click" &&
          firstBatch(0).getAs[Long]("n_events") == 2 &&
          firstBatch(0).getAs[Double]("total_value") == 3.0)
        assert(firstBatch(1).getAs[String]("channel") == "view" &&
          firstBatch(1).getAs[Double]("total_value") == 4.0)
        // watermark past every deadline → the timer closes the still-open
        // second click session
        input.addData(EventStreaming.Event(9,
          ts("2024-01-01 23:00:00"), 99, "click", 0.0))
        q.processAllAvailable()
        input.addData(EventStreaming.Event(10,
          ts("2024-01-01 23:01:00"), 99, "click", 0.0))
        q.processAllAvailable()
        val u1 = spark.table("ch_sess").collect()
          .filter(_.getAs[Long]("user_id") == 1)
          .sortBy(r => (r.getAs[String]("channel"),
            r.getAs[java.sql.Timestamp]("session_start").getTime))
        assert(u1.length == 3, u1.mkString(";"))
        // click #2: the lone 11:00 event; view: the lone 10:20 event
        assert(u1(1).getAs[String]("channel") == "click" &&
          u1(1).getAs[Long]("n_events") == 1 &&
          u1(1).getAs[Double]("total_value") == 8.0)
        assert(u1(2).getAs[String]("channel") == "view" &&
          u1(2).getAs[Long]("n_events") == 1 &&
          u1(2).getAs[Double]("total_value") == 4.0)
      } finally q.stop()
    }
  }

  test("stream-stream interval join attributes purchases to signups") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreaming.Event]
    input.addData(
      EventStreaming.Event(1, ts("2024-01-01 08:00:00"), 1, "signup", 5.0),
      // purchase 2 days after signup → inside the 7-day lookback
      EventStreaming.Event(2, ts("2024-01-03 09:00:00"), 1, "purchase", 40.0),
      // user 2 purchases with NO signup → not emitted (inner join)
      EventStreaming.Event(3, ts("2024-01-03 10:00:00"), 2, "purchase", 7.0),
      // user 3's signup is 30 days before the purchase → outside window
      EventStreaming.Event(4, ts("2023-12-04 08:00:00"), 3, "signup", 1.0),
      EventStreaming.Event(5, ts("2024-01-03 11:00:00"), 3, "purchase", 9.0))
    val q = EventStreaming.purchaseAttribution(input.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
      assert(rows.length == 1, rows.mkString(";"))
      assert(rows(0).getAs[Long]("user_id") == 1)
      assert(rows(0).getAs[Double]("purchase_value") == 40.0)
      assert(rows(0).getAs[Double]("signup_value") == 5.0)
    } finally q.stop()
  }

  test("sessionize: inactivity gap splits sessions within a batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreaming.Event]
    // user 1: two bursts separated by > 30 min → first session closes
    input.addData(
      EventStreaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventStreaming.Event(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
      EventStreaming.Event(3, ts("2024-01-01 12:00:00"), 1, "view", 3.0))
    val q = EventStreaming.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
      assert(rows.length == 1) // first burst closed; second still open
      val r = rows(0)
      assert(r.getAs[Long]("n_events") == 2)
      assert(r.getAs[Double]("total_value") == 3.0)
      assert(r.getAs[java.sql.Timestamp]("session_end").toString
        .startsWith("2024-01-01 10:10"))
    } finally q.stop()
  }

  test("streaming exact dedup: within-horizon dups dropped, state expires") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CorpusStreaming.DocEvent]
    input.addData(
      CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"), "a b c", "s0"),
      CorpusStreaming.DocEvent(2, ts("2024-01-01 10:05:00"), "a b c", "s0"),
      CorpusStreaming.DocEvent(3, ts("2024-01-01 10:06:00"), "x y z", "s1"))
    val q = CorpusStreaming.dedupStream(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("intake")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // doc 2 has doc 1's fingerprint → dropped; emission is immediate
      assert(spark.table("intake").collect()
        .map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
      // push the watermark far past the horizon → fp state expires
      input.addData(CorpusStreaming.DocEvent(
        9, ts("2024-01-01 12:00:00"), "advancer", "s0"))
      q.processAllAvailable()
      // the same content arriving AFTER the horizon is admitted again
      // (beyond-horizon dups are the batch snapshot tier's job)
      input.addData(CorpusStreaming.DocEvent(
        4, ts("2024-01-01 12:01:00"), "a b c", "s0"))
      q.processAllAvailable()
      assert(spark.table("intake").collect()
        .map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L, 9L, 4L))
    } finally q.stop()
  }

  test("online features: per-user state accumulates across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[EventStreaming.Event]
      input.addData(
        EventStreaming.Event(2, ts("2024-01-01 10:05:00"), 1, "purchase", 20.0),
        EventStreaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 10.0),
        EventStreaming.Event(3, ts("2024-01-01 10:06:00"), 2, "view", 5.0))
      val q = EventStreaming.maintainFeatures(input.toDS())
        .writeStream.format("memory").queryName("feat")
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        val b1 = spark.table("feat").collect()
          .map(r => r.getAs[Long]("user_id") -> r).toMap
        // out-of-order rows within the batch fold in ts order
        assert(b1(1L).getAs[Long]("n_events") == 2 &&
          b1(1L).getAs[Long]("n_purchases") == 1 &&
          b1(1L).getAs[Double]("total_value") == 30.0 &&
          b1(1L).getAs[java.sql.Timestamp]("last_seen") ==
            ts("2024-01-01 10:05:00"))
        assert(b1(2L).getAs[Long]("n_events") == 1)
        // second batch touches only user 1 → exactly one new upsert row
        input.addData(
          EventStreaming.Event(4, ts("2024-01-01 11:00:00"), 1, "purchase", 7.5))
        q.processAllAvailable()
        val rows = spark.table("feat").collect()
        assert(rows.length == 3, s"expected 3 upserts, got ${rows.length}")
        val last = rows.filter(_.getAs[Long]("user_id") == 1L)
          .maxBy(_.getAs[Long]("n_events"))
        assert(last.getAs[Long]("n_events") == 3 &&
          last.getAs[Long]("n_purchases") == 2 &&
          last.getAs[Double]("total_value") == 37.5 &&
          last.getAs[java.sql.Timestamp]("last_seen") ==
            ts("2024-01-01 11:00:00"))
      } finally q.stop()
    }
  }

  test("touch attribution credits first/last across batches, gates no-touch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[EventStreaming.Event]
      input.addData(
        // user 1 (out of order in the batch): view → click → purchase
        EventStreaming.Event(3, ts("2024-01-01 10:02:00"), 1, "purchase", 50.0),
        EventStreaming.Event(1, ts("2024-01-01 10:00:00"), 1, "view", 0.0),
        EventStreaming.Event(2, ts("2024-01-01 10:01:00"), 1, "click", 0.0),
        // user 2: purchase with NO prior touch → gated
        EventStreaming.Event(4, ts("2024-01-01 10:03:00"), 2, "purchase", 9.0))
      val q = EventStreaming.attributeStream(input.toDS())
        .writeStream.format("memory").queryName("attr")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val b1 = spark.table("attr").collect()
        assert(b1.length == 1, b1.mkString(";"))
        assert(b1(0).getAs[Long]("purchase_id") == 3L &&
          b1(0).getAs[String]("first_touch") == "view" &&
          b1(0).getAs[String]("last_touch") == "click" &&
          b1(0).getAs[Double]("value") == 50.0)
        // batch 2: state persisted — a new touch moves last but not
        // first; user 2's first touch arrives, then converts
        input.addData(
          EventStreaming.Event(5, ts("2024-01-01 11:00:00"), 1, "signup", 0.0),
          EventStreaming.Event(6, ts("2024-01-01 11:01:00"), 1, "purchase", 25.0),
          EventStreaming.Event(7, ts("2024-01-01 11:02:00"), 2, "view", 0.0),
          EventStreaming.Event(8, ts("2024-01-01 11:03:00"), 2, "purchase", 8.0))
        q.processAllAvailable()
        val rows = spark.table("attr").collect()
          .map(r => r.getAs[Long]("purchase_id") -> r).toMap
        assert(rows.size == 3, rows.keySet.toString)
        assert(rows(6L).getAs[String]("first_touch") == "view" &&
          rows(6L).getAs[String]("last_touch") == "signup")
        assert(rows(8L).getAs[String]("first_touch") == "view" &&
          rows(8L).getAs[String]("last_touch") == "view" &&
          rows(8L).getAs[Double]("value") == 8.0)
      } finally q.stop()
    }
  }

  test("CUSUM drift monitor alarms on sustained shift, resets, stays quiet") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[EventStreaming.Event]
      // baseline mu=10, sigma=2 → k=1, h=8; values at 15 add 4 per event
      // to the up-side, so the 3rd shifted event crosses (12 > 8),
      // alarms, resets — and the next 3 cross again exactly once
      val q = EventStreaming.monitorDrift(input.toDS(),
          Map("click" -> (10.0, 2.0)))
        .writeStream.format("memory").queryName("drift")
        .outputMode("append").start()
      try {
        // in-baseline values: no alarm
        input.addData((1 to 4).map(i => EventStreaming.Event(
          i.toLong, ts(s"2024-01-01 10:0$i:00"), 1, "click", 10.0)): _*)
        q.processAllAvailable()
        assert(spark.table("drift").count() == 0)
        // sustained +5 shift across two micro-batches (state carries)
        input.addData((5 to 7).map(i => EventStreaming.Event(
          i.toLong, ts(s"2024-01-01 10:1${i - 5}:00"), 1, "click", 15.0)): _*)
        q.processAllAvailable()
        input.addData((8 to 10).map(i => EventStreaming.Event(
          i.toLong, ts(s"2024-01-01 10:2${i - 8}:00"), 1, "click", 15.0)): _*)
        q.processAllAvailable()
        val alarms = spark.table("drift").collect()
        assert(alarms.length == 2, alarms.mkString(","))
        assert(alarms.forall(_.getAs[String]("side") == "up"))
        assert(alarms.forall(_.getAs[Double]("cusum") == 12.0))
        // a type with no baseline emits nothing
        input.addData(EventStreaming.Event(11,
          ts("2024-01-01 10:30:00"), 1, "view", 999.0))
        q.processAllAvailable()
        assert(spark.table("drift").count() == 2)
        // downward shift: values at 4 add 10-4-1=5 per event to dn;
        // crosses on the 2nd (10 > 8)
        input.addData((12 to 13).map(i => EventStreaming.Event(
          i.toLong, ts(s"2024-01-01 10:4${i - 12}:00"), 1, "click", 4.0)): _*)
        q.processAllAvailable()
        val down = spark.table("drift").collect()
          .filter(_.getAs[String]("side") == "down")
        assert(down.length == 1 && down.head.getAs[Double]("cusum") == 10.0)
      } finally q.stop()
    }
  }

  test("per-source quota admits up to cap across batches, emits overflow") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[CorpusStreaming.DocEvent]
      // batch 1: three docs for s0 (cap 2 → third rejected), one for s1
      input.addData(
        CorpusStreaming.DocEvent(3, ts("2024-01-01 10:02:00"), "c", "s0"),
        CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"), "a", "s0"),
        CorpusStreaming.DocEvent(2, ts("2024-01-01 10:01:00"), "b", "s0"),
        CorpusStreaming.DocEvent(4, ts("2024-01-01 10:00:00"), "d", "s1"))
      val q = CorpusStreaming.quotaBySource(input.toDS(), cap = 2)
        .writeStream.format("memory").queryName("quota")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val r1 = spark.table("quota").collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted"))
          .toMap
        // (ts, doc_id) fold order: docs 1,2 admitted, 3 over cap
        assert(r1 == Map(1L -> true, 2L -> true, 3L -> false, 4L -> true),
          r1.toString)
        // batch 2: counter SURVIVES for s0 (still full); s1 has room
        input.addData(
          CorpusStreaming.DocEvent(5, ts("2024-01-01 11:00:00"), "e", "s0"),
          CorpusStreaming.DocEvent(6, ts("2024-01-01 11:00:00"), "f", "s1"))
        q.processAllAvailable()
        val r2 = spark.table("quota").collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("admitted"))
          .toMap
        assert(!r2(5L) && r2(6L), r2.toString)
        // admitted totals never exceed the cap
        val maxBySrc = spark.table("quota").collect()
          .groupBy(_.getAs[String]("source"))
          .map { case (src, rs) =>
            src -> rs.map(_.getAs[Long]("n_admitted")).max }
        assert(maxBySrc.values.forall(_ <= 2), maxBySrc.toString)
      } finally q.stop()
    }
  }

  test("streaming packer: per-source offsets continue across batches " +
    "and match the batch prefix sum") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      // token counts chosen to cross the 64-token window boundary:
      // s0: 40 + 40 (straddles) + 100 (spans 3 windows);
      // "a  b " exercises the split(" ", -1) ≡ Spark size(split) edge
      // (double + trailing spaces count empty tokens)
      def doc(id: Long, t: String, n: Int, src: String) =
        CorpusStreaming.DocEvent(id, ts(t), Seq.fill(n)("x").mkString(" "),
          src)
      val input = MemoryStream[CorpusStreaming.DocEvent]
      input.addData(
        doc(2, "2024-01-01 10:01:00", 40, "s0"),
        doc(1, "2024-01-01 10:00:00", 40, "s0"),
        CorpusStreaming.DocEvent(10, ts("2024-01-01 10:00:00"),
          "a  b ", "s1"))
      val q = CorpusStreaming.packBySource(input.toDS())
        .writeStream.format("memory").queryName("packer")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // batch 2: s0 continues from offset 80
        input.addData(doc(3, "2024-01-01 11:00:00", 100, "s0"))
        q.processAllAvailable()
        val rows = spark.table("packer").collect()
          .map(r => r.getAs[Long]("doc_id") ->
            (r.getAs[Long]("n_tokens"), r.getAs[Long]("off"),
              r.getAs[Long]("window_lo"), r.getAs[Long]("window_hi"),
              r.getAs[Long]("span"))).toMap
        // (ts, doc_id) fold: doc 1 at 0, doc 2 at 40 (straddles the
        // 64-boundary), doc 3 continues at 80 across the batch gap
        assert(rows(1L) == ((40L, 0L, 0L, 0L, 1L)), rows(1L).toString)
        assert(rows(2L) == ((40L, 40L, 0L, 1L, 2L)), rows(2L).toString)
        assert(rows(3L) == ((100L, 80L, 1L, 2L, 2L)), rows(3L).toString)
        // the tricky text: Spark's size(split("a  b ", " ")) = 4
        val sparkN = Seq("a  b ").toDF("text")
          .select(org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.split($"text", " ")))
          .as[Int].head()
        assert(rows(10L)._1 == sparkN.toLong, s"${rows(10L)} vs $sparkN")
        // batch parity: stream offsets per source = prefix sums of
        // n_tokens in fold order (the q233 packedOffsets contract)
        val bySrc = spark.table("packer").collect()
          .groupBy(_.getAs[String]("source"))
        for ((_, rs) <- bySrc) {
          val sorted = rs.sortBy(_.getAs[Long]("off"))
          var expect = 0L
          for (r <- sorted) {
            assert(r.getAs[Long]("off") == expect, r.toString)
            expect += r.getAs[Long]("n_tokens")
          }
        }
      } finally q.stop()
    }
  }

  test("streaming count-min grid equals the batch grid after any prefix") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val b1 = Seq(
        CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"),
          "join hash join scan", "s0"),
        CorpusStreaming.DocEvent(2, ts("2024-01-01 10:01:00"),
          "row batch row row", "s0"))
      val b2 = Seq(
        CorpusStreaming.DocEvent(3, ts("2024-01-01 11:00:00"),
          "join scan scan", "s1"))
      val input = MemoryStream[CorpusStreaming.DocEvent]
      val q = CorpusStreaming.countMinStream(input.toDS())
        .writeStream.format("memory").queryName("cmcells")
        .outputMode("append").start()
      try {
        input.addData(b1: _*)
        q.processAllAvailable()
        input.addData(b2: _*)
        q.processAllAvailable()
        // totals are monotone → max per cell is the current grid
        val streamed = spark.table("cmcells").collect()
          .groupBy(r => (r.getAs[Int]("depth"), r.getAs[Long]("bucket")))
          .map { case (k, rs) => k -> rs.map(_.getAs[Long]("total")).max }
        // batch grid over the SAME docs via the q221 SQL spelling —
        // pins the Scala tokenizer against the oracle-facing hash
        val gridArms = graft.ops.CorpusOps.cmAb.zipWithIndex.map {
          case ((a, b), d) =>
            s"""SELECT $d AS depth,
                  (CAST(ascii(term) * 131 + length(term) AS BIGINT) * $a
                   + $b) % 1000000007 % ${graft.ops.CorpusOps.CmWidth}
                    AS bucket
                FROM toks"""
        }.mkString(" UNION ALL ")
        (b1 ++ b2).map(e => e.doc_id -> e.text).toDF("doc_id", "text")
          .createOrReplaceTempView("cmdocs")
        val batch = spark.sql(
          s"""WITH toks AS (SELECT explode(split(text, ' ')) AS term
                            FROM cmdocs)
              SELECT depth, bucket, COUNT(*) AS total
              FROM ($gridArms) GROUP BY 1, 2""").collect()
          .map(r => (r.getAs[Int]("depth"), r.getAs[Long]("bucket"))
            -> r.getAs[Long]("total")).toMap
        assert(streamed == batch, s"stream=$streamed batch=$batch")
      } finally q.stop()
    }
  }

  test("stream-static snapshot dedup passes only novel fingerprints") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus snapshot already contains "a b c"
    val snapshot = CorpusStreaming.withFingerprint(
      Seq((100L, "a b c")).toDF("doc_id", "text")).select($"fp")
    val input = MemoryStream[CorpusStreaming.DocEvent]
    input.addData(
      CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"), "a b c", "s0"),
      CorpusStreaming.DocEvent(2, ts("2024-01-01 10:01:00"), "new stuff", "s0"))
    val q = CorpusStreaming.dedupAgainstSnapshot(
      CorpusStreaming.withFingerprint(input.toDF()), snapshot)
      .writeStream.format("memory").queryName("novel")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("novel").collect().map(_.getAs[Long]("doc_id"))
      assert(ids.toSeq == Seq(2L), ids.mkString(","))
    } finally q.stop()
  }

  test("idempotent parquet sink: batch replay never duplicates rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("intake_out")
      .toString
    val ckpt = java.nio.file.Files.createTempDirectory("intake_ckpt")
      .toString
    val input = MemoryStream[CorpusStreaming.DocEvent]
    input.addData(
      CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"), "a", "s0"),
      CorpusStreaming.DocEvent(2, ts("2024-01-01 10:01:00"), "b", "s0"))
    val q = CorpusStreaming.toIdempotentParquet(
      CorpusStreaming.withFingerprint(input.toDF()), out, ckpt)
    try {
      q.processAllAvailable()
      input.addData(CorpusStreaming.DocEvent(
        3, ts("2024-01-01 10:02:00"), "c", "s1"))
      q.processAllAvailable()
      val once = spark.read.parquet(out)
      assert(once.count() == 3)
      // simulate the crash-replay of batch 0: same id, same rows →
      // the overwrite lands on the same directory, still 3 rows
      CorpusStreaming.writeBatch(
        CorpusStreaming.withFingerprint(Seq(
          (1L, ts("2024-01-01 10:00:00"), "a", "s0"),
          (2L, ts("2024-01-01 10:01:00"), "b", "s0"))
          .toDF("doc_id", "ts", "text", "source")), out, 0L)
      assert(spark.read.parquet(out).count() == 3)
      assert(spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("quality router splits accept/quarantine at the batch threshold") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val acc = java.nio.file.Files.createTempDirectory("route_acc").toString
    val quar = java.nio.file.Files.createTempDirectory("route_quar").toString
    val ckpt = java.nio.file.Files.createTempDirectory("route_ckpt").toString
    // long stopword-rich text scores high; one-word text scores low
    val good = ("the a of and in to " * 40).trim
    val input = MemoryStream[CorpusStreaming.DocEvent]
    input.addData(
      CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"), good, "s0"),
      CorpusStreaming.DocEvent(2, ts("2024-01-01 10:01:00"), "zzz", "s0"))
    val q = CorpusStreaming.routeByQuality(input.toDF(), acc, quar, ckpt)
    try {
      q.processAllAvailable()
      val accepted = spark.read.parquet(acc)
      val rejected = spark.read.parquet(quar)
      assert(accepted.select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(1L))
      assert(rejected.select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(2L))
      // the quarantine keeps the quality score for review
      assert(rejected.columns.contains("quality"))
      // replaying batch 0 into the accept sink stays idempotent
      q.processAllAvailable()
      assert(spark.read.parquet(acc).count() == 1)
    } finally q.stop()
  }

  test("ListState burst detector alerts on event velocity and resets") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[EventStreaming.Event]
      // user 1: three events inside 5 min → burst; user 2: two events
      // 30 min apart → never inside one window, no burst. Later phases
      // use LATER timestamps — the 0-delay watermark advances to each
      // batch's max and would drop backdated events as late.
      input.addData(
        EventStreaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        EventStreaming.Event(2, ts("2024-01-01 10:01:00"), 1, "click", 1.0),
        EventStreaming.Event(3, ts("2024-01-01 10:02:00"), 1, "click", 1.0),
        EventStreaming.Event(4, ts("2024-01-01 10:00:00"), 2, "click", 1.0),
        EventStreaming.Event(5, ts("2024-01-01 10:30:00"), 2, "click", 1.0))
      val q = EventStreaming.detectBursts(input.toDS(), n = 3)
        .writeStream.format("memory").queryName("bursts")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.table("bursts").collect()
        assert(rows.length == 1, rows.mkString(";"))
        assert(rows(0).getAs[Long]("user_id") == 1 &&
          rows(0).getAs[Long]("n_events") == 3)
        // the ring was cleared on alert: two MORE events alone must not
        // re-alert (need a full n again), a third re-alerts
        input.addData(
          EventStreaming.Event(6, ts("2024-01-01 10:31:00"), 1, "click", 1.0),
          EventStreaming.Event(7, ts("2024-01-01 10:32:00"), 1, "click", 1.0))
        q.processAllAvailable()
        assert(spark.table("bursts").count() == 1)
        input.addData(
          EventStreaming.Event(8, ts("2024-01-01 10:33:00"), 1, "click", 1.0))
        q.processAllAvailable()
        assert(spark.table("bursts").count() == 2)
      } finally q.stop()
    }
  }

  test("burst detector handles out-of-order events under a lazy watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val input = MemoryStream[EventStreaming.Event]
      input.addData(
        EventStreaming.Event(1, ts("2024-01-01 10:10:00"), 1, "click", 1.0))
      val q = EventStreaming.detectBursts(input.toDS(), n = 2,
        watermark = "10 minutes")
        .writeStream.format("memory").queryName("ooo_bursts")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // 10:04 arrives LATE but inside the watermark slack: it is 6 min
        // before 10:10 — outside the 5-min window, so NO burst (an
        // unsorted ring would have paired them start-after-end)
        input.addData(
          EventStreaming.Event(2, ts("2024-01-01 10:04:00"), 1, "click", 1.0))
        q.processAllAvailable()
        assert(spark.table("ooo_bursts").count() == 0)
        // 10:08, also out of order, IS within 5 min of 10:10 → burst
        // with a correctly ordered span
        input.addData(
          EventStreaming.Event(3, ts("2024-01-01 10:08:00"), 1, "click", 1.0))
        q.processAllAvailable()
        val rows = spark.table("ooo_bursts").collect()
        assert(rows.length == 1, rows.mkString(";"))
        assert(rows(0).getAs[java.sql.Timestamp]("burst_start").toString
          .startsWith("2024-01-01 10:08"))
        assert(rows(0).getAs[java.sql.Timestamp]("burst_end").toString
          .startsWith("2024-01-01 10:10"))
      } finally q.stop()
    }
  }

  test("foreachBatch SCD2 maintenance evolves the dimension history") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = java.nio.file.Files.createTempDirectory("dim").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dim_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Scd2.maintainDim(
      input.toDF().toDF("k", "seg"), dim, ckpt,
      "k", Seq("seg"), id => s"2024-06-0${id + 1}")
    try {
      input.addData((1L, "A"), (2L, "B"))
      q.processAllAvailable()
      val v0 = graft.ops.Scd2.readDim(spark, dim).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("seg"),
          r.getAs[String]("valid_to"))).toSet
      assert(v0 == Set((1L, "A", null), (2L, "B", null)))
      // batch 1: key 1 changes segment, key 2 vanishes, key 3 appears
      input.addData((1L, "Z"), (3L, "C"))
      q.processAllAvailable()
      val v1 = graft.ops.Scd2.readDim(spark, dim).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("seg"),
          r.getAs[String]("valid_to"))).toSet
      assert(v1 == Set(
        (1L, "A", "2024-06-02"), (1L, "Z", null),
        (2L, "B", "2024-06-02"),
        (3L, "C", null)), v1.mkString(";"))
    } finally q.stop()
  }

  test("SCD2 maintenance lists versions of a file: URI dimension dir") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = "file:" + java.nio.file.Files.createTempDirectory("dim_uri")
    val ckpt = java.nio.file.Files.createTempDirectory("dim_uri_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Scd2.maintainDim(
      input.toDF().toDF("k", "seg"), dim, ckpt,
      "k", Seq("seg"), id => s"2024-06-0${id + 1}")
    try {
      input.addData((1L, "A"), (2L, "B"))
      q.processAllAvailable()
      // batch 1 must merge against batch 0's committed version
      input.addData((1L, "Z"))
      q.processAllAvailable()
      val v1 = graft.ops.Scd2.readDim(spark, dim).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("seg"),
          r.getAs[String]("valid_to"))).toSet
      assert(v1 == Set((1L, "A", "2024-06-02"), (1L, "Z", null),
        (2L, "B", "2024-06-02")), v1.mkString(";"))
    } finally q.stop()
  }

  test("intake census aggregates the deduped stream per window+source") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CorpusStreaming.DocEvent]
    input.addData(
      CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"), "a b c", "s0"),
      CorpusStreaming.DocEvent(2, ts("2024-01-01 10:05:00"), "a b c", "s0"),
      CorpusStreaming.DocEvent(3, ts("2024-01-01 10:06:00"), "x y z", "s1"))
    val q = CorpusStreaming.intakeCensus(
      CorpusStreaming.dedupStream(input.toDS(), "0 seconds"))
      .writeStream.format("memory").queryName("census")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // close the 10:00 window (watermark must pass 11:00)
      input.addData(CorpusStreaming.DocEvent(
        9, ts("2024-01-01 11:30:00"), "closer", "s9"))
      q.processAllAvailable()
      val rows = spark.table("census").collect()
        .map(r => (r.getAs[String]("source"),
          r.getAs[Long]("n_new_docs"), r.getAs[Long]("n_chars")))
        .toSet
      // dup doc 2 never reaches the census
      assert(rows == Set(("s0", 1L, 5L), ("s1", 1L, 5L)),
        rows.mkString(";"))
    } finally q.stop()
  }

  test("incremental checksum maintenance coincides with one-shot recompute") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma", "s0"), (2L, "delta epsilon", "s0"),
      (3L, "zeta eta theta", "s1"), (4L, "iota kappa", "s1"),
      (5L, "lambda mu nu xi", "s0"))
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files
      .createTempDirectory("cksum").toString
    // incremental: two commits (batch 0 = first 3 rows, batch 1 = rest)
    CorpusStreaming.mergeChecksums(
      docs.filter($"doc_id" <= 3), s"$tmp/inc", 0L)
    CorpusStreaming.mergeChecksums(
      docs.filter($"doc_id" > 3), s"$tmp/inc", 1L)
    // recompute: everything in one commit
    CorpusStreaming.mergeChecksums(docs, s"$tmp/full", 0L)
    def table(dir: String) =
      CorpusStreaming.currentChecksums(spark, dir).get.collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("xor_fp"), r.getAs[Long]("sum_fp"))).toSet
    val inc = table(s"$tmp/inc")
    assert(inc == table(s"$tmp/full"), s"inc=$inc")
    assert(inc.map(_._1) == Set("s0", "s1"))
    assert(inc.find(_._1 == "s0").get._2 == 3L)
    // replay of the SAME batch id must be idempotent (overwrite, not
    // double-merge): re-commit batch 1 and expect an unchanged table
    CorpusStreaming.mergeChecksums(
      docs.filter($"doc_id" > 3), s"$tmp/inc", 1L)
    assert(table(s"$tmp/inc") == inc)
  }

  test("streaming reservoir maintains exactly the batch q187 sample " +
    "across batches, replay-idempotent") {
    val s = spark
    import s.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars")
    val tmp = java.nio.file.Files
      .createTempDirectory("reservoir").toString
    // incremental: two intake batches split mid-corpus; batch 1 also
    // RE-DELIVERS a slice of batch 0 (at-least-once source) — the
    // duplicates must not eat reservoir slots
    CorpusStreaming.mergeReservoir(
      docs.filter($"doc_id" % 2 === 0), s"$tmp/inc", 0L, 100)
    CorpusStreaming.mergeReservoir(
      docs.filter($"doc_id" % 2 === 1)
        .unionByName(docs.filter($"doc_id" % 10 === 0)),
      s"$tmp/inc", 1L, 100)
    def table(dir: String) =
      CorpusStreaming.currentReservoir(spark, dir).get.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("weight"),
          r.getAs[Long]("priority"))).toSet
    val inc = table(s"$tmp/inc")
    // batch q187 over the same corpus elects the identical sample
    val batch = graft.SparkEntry
      .queries("q187_weighted_sample")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("weight"),
        r.getAs[Long]("priority"))).toSet
    assert(inc == batch,
      s"stream-batch divergence: ${inc.diff(batch)} / ${batch.diff(inc)}")
    // replaying the last commit (crash recovery) must not change it
    CorpusStreaming.mergeReservoir(
      docs.filter($"doc_id" % 2 === 1), s"$tmp/inc", 1L, 100)
    assert(table(s"$tmp/inc") == inc)
  }

  test("streaming centroid stats reproduce batch q102 bit-exactly " +
    "across batches, replay-idempotent") {
    val s = spark
    import s.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val seed = graft.ops.VectorOps.labelCentroids(spark, sfDir)
      .localCheckpoint()
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val tmp = java.nio.file.Files
      .createTempDirectory("centroids").toString
    // two intake batches split mid-corpus; batch 1 carries a WITHIN-
    // batch duplicate slice (at-least-once delivery inside a batch) —
    // the deterministic per-vec_id election must absorb it
    CorpusStreaming.mergeCentroids(
      vecs.filter($"vec_id" % 2 === 0), s"$tmp/inc", 0L, seed)
    val b1 = vecs.filter($"vec_id" % 2 === 1)
    CorpusStreaming.mergeCentroids(
      b1.unionByName(b1.filter($"vec_id" % 5 === 1)),
      s"$tmp/inc", 1L, seed)
    def table() = CorpusStreaming
      .currentCentroids(spark, s"$tmp/inc", seed).get.collect()
      .map(r => r.getAs[Number]("cell").longValue() ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Double]("inertia"),
          r.getAs[Double]("movement")))).toMap
    val inc = table()
    // sufficient statistics are a merge homomorphism over exact
    // decimals: the maintained table must equal batch q102 BIT-FOR-BIT
    val batch = graft.SparkEntry
      .queries("q102_lloyd_step")(spark, sfDir).collect()
      .map(r => r.getAs[Number]("cell").longValue() ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Double]("inertia"),
          r.getAs[Double]("movement")))).toMap
    assert(inc == batch,
      s"stream-batch divergence: ${inc.toSet.diff(batch.toSet)} / " +
        s"${batch.toSet.diff(inc.toSet)}")
    // replaying the last commit (crash recovery) must not change it
    CorpusStreaming.mergeCentroids(b1, s"$tmp/inc", 1L, seed)
    assert(table() == inc)
  }

  test("streaming LSH candidates: band matches pair across batches, " +
    "replays dedup, full buckets saturate") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val textA = "alpha beta gamma delta epsilon zeta eta theta"
      val textB = "one two three four five six seven"
      val input = MemoryStream[CorpusStreaming.DocEvent]
      input.addData(
        CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"), textA, "s0"),
        CorpusStreaming.DocEvent(2, ts("2024-01-01 10:00:01"), textB, "s0"))
      val q = CorpusStreaming
        .lshCandidatesStream(input.toDS(), cap = 2)
        .writeStream.format("memory").queryName("lsh_cand")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // disjoint texts: no bucket overlaps yet
        assert(spark.table("lsh_cand").count() == 0)
        // identical content arrives later -> both bands pair (1,3);
        // a replayed doc_id 1 must add nothing
        input.addData(
          CorpusStreaming.DocEvent(3, ts("2024-01-01 10:05:00"), textA, "s1"),
          CorpusStreaming.DocEvent(1, ts("2024-01-01 10:05:01"), textA, "s0"))
        q.processAllAvailable()
        val pairs = spark.table("lsh_cand").collect()
          .map(r => (r.getAs[Int]("band"), r.getAs[Long]("doc_a"),
            r.getAs[Long]("doc_b"), r.getAs[Boolean]("saturated")))
        assert(pairs.toSet == Set((0, 1L, 3L, false), (1, 1L, 3L, false)),
          pairs.mkString(";"))
        // bucket already holds {1, 3} = cap -> a third copy saturates
        // (marker rows, not pairs) on both bands
        input.addData(
          CorpusStreaming.DocEvent(4, ts("2024-01-01 10:10:00"), textA, "s2"))
        q.processAllAvailable()
        val sat = spark.table("lsh_cand").collect()
          .filter(_.getAs[Boolean]("saturated"))
          .map(r => (r.getAs[Int]("band"), r.getAs[Long]("doc_a"),
            r.getAs[Long]("doc_b")))
        assert(sat.toSet == Set((0, 4L, -1L), (1, 4L, -1L)))
        // and no pair rows beyond the original two
        assert(spark.table("lsh_cand").collect()
          .count(!_.getAs[Boolean]("saturated")) == 2)
      } finally q.stop()
    }
  }

  test("streaming pHash candidates: perturbed payload pairs with its " +
    "original across batches on the unchanged lanes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      val textA = "alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi rho sigma tau"
      val textB = "Q" + textA.substring(1) // q254's planted edit
      val input = MemoryStream[CorpusStreaming.DocEvent]
      input.addData(
        CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"), textA, "s0"))
      val q = CorpusStreaming
        .phashCandidatesStream(input.toDS(), cap = 10)
        .writeStream.format("memory").queryName("ph_cand")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("ph_cand").count() == 0)
        input.addData(
          CorpusStreaming.DocEvent(2, ts("2024-01-01 10:05:00"), textB, "s0"))
        q.processAllAvailable()
        val rows = spark.table("ph_cand").collect()
          .filter(!_.getAs[Boolean]("saturated"))
          .map(r => (r.getAs[Int]("band"), r.getAs[Long]("doc_a"),
            r.getAs[Long]("doc_b")))
        // textA is > 65 bytes, so the first-byte edit moves only
        // sample s0: lane 0 may differ but lanes 1-3 collide exactly
        // -> the pair emits on at least those three bands
        val pairBands = rows.filter(p => p._2 == 1L && p._3 == 2L)
          .map(_._1).toSet
        assert(Set(1, 2, 3).subsetOf(pairBands), rows.mkString(";"))
      } finally q.stop()
    }
  }

  test("streaming split-leakage watch: cross-split candidate flags, " +
    "same-split candidate does not, splits match batch q105") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(RocksDbStateStore) {
      // q105 hash buckets: id 1 -> 98 (test), 2 -> 38 (train),
      // 3 -> 85 (val), 4 -> 25 (train)
      val textA = "alpha beta gamma delta epsilon zeta eta theta"
      val textB = "one two three four five six seven"
      val input = MemoryStream[CorpusStreaming.DocEvent]
      input.addData(
        CorpusStreaming.DocEvent(1, ts("2024-01-01 10:00:00"), textA, "s0"),
        CorpusStreaming.DocEvent(2, ts("2024-01-01 10:00:01"), textB, "s0"))
      val q = CorpusStreaming
        .splitLeakageStream(input.toDS(), cap = 4)
        .writeStream.format("memory").queryName("leak_watch")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("leak_watch").count() == 0)
        // doc 3 (val) collides with doc 1 (test) -> LEAK on both
        // bands; doc 4 (train) collides with doc 2 (train) -> clean
        input.addData(
          CorpusStreaming.DocEvent(3, ts("2024-01-01 10:05:00"), textA, "s1"),
          CorpusStreaming.DocEvent(4, ts("2024-01-01 10:05:01"), textB, "s1"))
        q.processAllAvailable()
        val got = spark.table("leak_watch").collect()
          .map(r => (r.getAs[Int]("band"), r.getAs[Long]("doc_a"),
            r.getAs[Long]("doc_b"), r.getAs[String]("split_a"),
            r.getAs[String]("split_b"), r.getAs[Boolean]("is_leak")))
          .toSet
        assert(got == Set(
          (0, 1L, 3L, "test", "val", true),
          (1, 1L, 3L, "test", "val", true),
          (0, 2L, 4L, "train", "train", false),
          (1, 2L, 4L, "train", "train", false)), got.mkString(";"))
        // parity pin: the labels the stream attached are EXACTLY the
        // batch q105 assignment of the same ids
        val batch = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
          .select($"doc_id",
            graft.ops.CorpusOps.splitAssign($"doc_id").as("split"))
          .collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        got.foreach { case (_, a, b, sa, sb, leak) =>
          assert(batch(a) == sa && batch(b) == sb)
          assert(leak == (batch(a) != batch(b)))
        }
      } finally q.stop()
    }
  }

  // ----------------------------------------------------- parity pins
  // The streaming processors are TWINS of batch queries; these tests
  // pin that the two spellings cannot drift: same fixture in, same
  // sessions / survivors out.

  private val utcFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  test("parity: batch q78 sessionization ≡ streaming SessionProcessor") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic fixture: 8 users, ~20 events each, integer values
    // (value_cents stays exact through the double path), gaps that
    // sometimes exceed the 30-min session cut. Timestamps built from
    // epoch millis so batch (session-TZ UTC) and streaming (Timestamp)
    // render identically regardless of JVM default zone.
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
      .toEpochMilli
    val rnd = new scala.util.Random(42)
    var eid = 0L
    val events = (1L to 8L).flatMap { u =>
      var t = base + rnd.nextInt(3600) * 1000L
      (0 until 20).map { _ =>
        t += (rnd.nextInt(50) + 1) * 60 * 1000L // 1..50 min steps
        eid += 1
        EventStreaming.Event(eid, new java.sql.Timestamp(t), u,
          "click", (rnd.nextInt(500) + 1).toDouble)
      }
    }
    // batch side: the REAL q78 over the same rows written as a table
    val tmp = java.nio.file.Files.createTempDirectory("sesspar").toString
    events.toDF().withColumn("props",
        org.apache.spark.sql.functions.lit("{}"))
      .write.parquet(s"$tmp/events.parquet")
    val batch = graft.ops.EventOps.q78SessionizeBatch(spark, tmp)
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[String]("session_start"), r.getAs[String]("session_end"),
        r.getAs[Long]("n_events"), r.getAs[Long]("value_cents"))).toSet

    // streaming side: one micro-batch of data, then a far-future
    // sentinel (twice — the watermark computed in batch N applies in
    // N+1) so event-time timers flush every open session.
    withConf(RocksDbStateStore) {
      val input = MemoryStream[EventStreaming.Event]
      input.addData(events)
      val q = EventStreaming.sessionizeTws(input.toDS())
        .writeStream.format("memory").queryName("parity_sess")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val sentinel = base + 10L * 24 * 3600 * 1000
        input.addData(EventStreaming.Event(90001,
          new java.sql.Timestamp(sentinel), 9999, "click", 1.0))
        q.processAllAvailable()
        input.addData(EventStreaming.Event(90002,
          new java.sql.Timestamp(sentinel + 60000), 9999, "click", 1.0))
        q.processAllAvailable()
        val stream = spark.table("parity_sess")
          .as[EventStreaming.Session].collect()
          .filter(_.user_id != 9999L)
          .map(ss => (ss.user_id,
            utcFmt.format(ss.session_start.toInstant),
            utcFmt.format(ss.session_end.toInstant),
            ss.n_events, math.round(ss.total_value * 100)))
          .toSet
        assert(batch.nonEmpty && batch == stream,
          s"batch=${batch.size} stream=${stream.size} " +
            s"onlyBatch=${(batch -- stream).take(3)} " +
            s"onlyStream=${(stream -- batch).take(3)}")
      } finally q.stop()
    }
  }

  test("parity: batch q54 exact-dedup census ≡ dedupStream survivors") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 40 docs over ≤20 distinct texts; duplicate texts stay WITHIN one
    // source (dedupStream is global — cross-source dups would drop in
    // the stream but count as per-source distinct in the census).
    // The fingerprint's token hash is (first char, length)-based, so
    // cross-source distinguishing tokens must differ in FIRST char
    // ("zebra"/"quill") and the numeric suffix stays single-digit —
    // "10"/"11" would collide.
    val rnd = new scala.util.Random(7)
    val docs = (1L to 40L).map { i =>
      val src = if (i <= 22) "s0" else "s1"
      val word = if (src == "s0") "zebra" else "quill"
      val text = s"$word corpus document body ${rnd.nextInt(10)}"
      CorpusStreaming.DocEvent(i,
        new java.sql.Timestamp(1709251200000L + i * 1000), text, src)
    }
    val tmp = java.nio.file.Files.createTempDirectory("dedpar").toString
    docs.toDF().select($"doc_id", $"text", $"source")
      .write.parquet(s"$tmp/documents.parquet")
    val census = graft.ops.TextOps.q54ExactDedup(spark, tmp).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_distinct"))).toMap
    val batchFps = CorpusStreaming
      .withFingerprint(docs.toDF()).select($"fp")
      .distinct().as[Long].collect().toSet

    val input = MemoryStream[CorpusStreaming.DocEvent]
    input.addData(docs)
    val q = CorpusStreaming.dedupStream(input.toDS())
      .writeStream.format("memory").queryName("parity_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val survivors = spark.table("parity_dedup").collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("fp")))
      // fingerprint SET parity: the stream keeps exactly one doc per
      // distinct content key, the same keys the batch census counts
      assert(survivors.map(_._2).toSet == batchFps)
      assert(survivors.length == batchFps.size) // no double-emission
      val perSource = survivors.groupBy(_._1).map { case (k, v) =>
        (k, v.length.toLong)
      }
      for ((src, (_, nDistinct)) <- census)
        assert(perSource(src) == nDistinct,
          s"$src: stream=${perSource(src)} batch=$nDistinct")
      // and the census arithmetic holds on the fixture (real dups)
      assert(census.values.exists { case (nDocs, nDist) =>
        nDocs > nDist })
    } finally q.stop()
  }

  test("DSIR gate: stream scores reproduce the batch q241 census") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // train the weight table on the batch tier
    val weights = graft.ops.CorpusOps.dsirBucketWeights(spark, sf)
    // feed the WHOLE corpus through the stream gate
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
    val input = MemoryStream[CorpusStreaming.DocEvent]
    input.addData(docs.map(r => CorpusStreaming.DocEvent(
      r.getLong(0), ts("2024-01-01 10:00:00"), r.getString(1),
      r.getString(2))).toSeq)
    val q = CorpusStreaming.dsirGateStream(input.toDF(), weights)
      .writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dsir_gate")
        .groupBy("source")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.when(
              org.apache.spark.sql.functions.col("admit"), 1L)
              .otherwise(0L)).as("n_sel"),
          org.apache.spark.sql.functions.sum("doc_bits").as("sum_bits"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val batch = graft.SparkEntry.queries("q241_dsir_select")(spark, sf)
        .collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("n_sel"),
            r.getAs[Long]("sum_bits"))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (src, got) =>
        assert(got == batch(src), s"$src: stream=$got batch=${batch(src)}")
      }
      // non-vacuous: the gate both admits and rejects somewhere
      assert(streamed.values.exists { case (n, sel, _) => sel > 0 })
      assert(streamed.values.exists { case (n, sel, _) => sel < n })
    } finally q.stop()
  }

  test("NB gate: stream scores equal an independent plain-Scala " +
    "hashed NB, doc by doc") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val model = graft.ops.CorpusOps.nbHashedWeights(spark, sf)
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // ---- independent reimplementation (no pipeline code): split
    // hash, quality label, char-fold bucket, piecewise-linear ilog256
    def split(id: Long): String = {
      val b = ((id % 1000000007L) * 2654435761L + 5851L) %
        1000000007L % 100L
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val stops = Set("the", "a", "of", "and", "in", "to")
    def label(text: String): Long = {
      // the quality denominator is the UNFILTERED split length
      // (split(-1) keeps trailing empties, matching Spark's split)
      val t = text.split(" ", -1)
      val q = (t.count(stops).toDouble / t.length) * 0.5 +
        math.min(1.0, text.length.toDouble / 400.0) * 0.5
      if (math.floor(q * 1e6) >= 420000) 1L else 0L
    }
    def bucket(w: String): Long =
      w.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % 1000000007L) % 256L
    def ilog(x: Long): Long = {
      val m = 63 - java.lang.Long.numberOfLeadingZeros(x)
      m * 256L + (x * 256L) / (1L << m) - 256L
    }
    val train = docs.filter(t => split(t._1) == "train")
      .map(t => (label(t._2), t._2.split(" ").filter(_.nonEmpty)))
    val n1 = Array.fill(256)(0L)
    val n0 = Array.fill(256)(0L)
    train.foreach { case (y, toks) =>
      toks.foreach { w =>
        if (y == 1L) n1(bucket(w).toInt) += 1 else n0(bucket(w).toInt) += 1
      }
    }
    val t1 = n1.sum; val t0 = n0.sum
    val d1 = train.count(_._1 == 1L).toLong
    val d0 = train.length - d1
    val wBits = (0 until 256).map(b =>
      (ilog(n1(b) + 1) - ilog(t1 + 256)) - (ilog(n0(b) + 1) - ilog(t0 + 256)))
    val prior = ilog(d1) - ilog(d0)
    val expected: Map[Long, Long] = docs.map { case (id, text, _) =>
      id -> (prior + text.split(" ").filter(_.nonEmpty)
        .map(w => wBits(bucket(w).toInt)).sum)
    }.toMap
    // ---- stream the whole corpus through the gate in two batches
    val input = MemoryStream[CorpusStreaming.DocEvent]
    val q = CorpusStreaming.nbGateStream(input.toDF(), model)
      .writeStream.format("memory").queryName("nb_gate")
      .outputMode("append").start()
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.map(t => CorpusStreaming.DocEvent(
        t._1, ts("2024-01-01 10:00:00"), t._2, t._3)).toSeq)
      q.processAllAvailable()
      input.addData(b.map(t => CorpusStreaming.DocEvent(
        t._1, ts("2024-01-01 10:01:00"), t._2, t._3)).toSeq)
      q.processAllAvailable()
      val streamed = spark.table("nb_gate")
        .select("doc_id", "nb_bits").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed.size == docs.length)
      streamed.foreach { case (id, bits) =>
        assert(bits == expected(id),
          s"doc $id: stream=$bits scratch=${expected(id)}")
      }
      // non-vacuous: the gate both admits and rejects somewhere
      assert(expected.values.exists(_ >= 0))
      assert(expected.values.exists(_ < 0))
    } finally q.stop()
  }

  test("decon gate: stream max-cos census reproduces batch q267 " +
    "across split batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val rows = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    def isEval(id: Long) = id % 10 == 7 && id < 1000
    // the batch q267 train side: non-eval rows plus the planted
    // verbatim eval replicas at +11*2^40
    val train = rows.filterNot(t => isEval(t._1)) ++
      rows.filter(t => isEval(t._1) && t._1 % 30 == 7)
        .map(t => (t._1 + (11L << 40), t._2, t._3))
    val input = MemoryStream[CorpusStreaming.VecEvent]
    val (a, b) = train.splitAt(train.length / 2)
    val evalDf = graft.Tables.embeddings(spark, sf)
      .filter($"vec_id" % 10 === 7 && $"vec_id" < 1000)
    val q = CorpusStreaming.deconGateStream(input.toDF(), evalDf, 0.99)
      .writeStream.format("memory").queryName("decon_gate")
      .outputMode("append").start()
    try {
      input.addData(a.map(t => CorpusStreaming.VecEvent(
        t._1, ts("2024-01-01 10:00:00"), t._2, t._3)).toSeq)
      q.processAllAvailable()
      input.addData(b.map(t => CorpusStreaming.VecEvent(
        t._1, ts("2024-01-01 10:01:00"), t._2, t._3)).toSeq)
      q.processAllAvailable()
      val streamed = spark.table("decon_gate")
        .groupBy("label")
        .agg(
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_train"),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.when(
              org.apache.spark.sql.functions.col("max_cos") >= 0.45, 1L)
              .otherwise(0L)).as("n45"),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.when(
              org.apache.spark.sql.functions.col("contaminated"), 1L)
              .otherwise(0L)).as("n99"),
          org.apache.spark.sql.functions.max("max_cos").as("mx"))
        .collect()
        .map(r => r.getInt(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
      val batch = graft.SparkEntry.queries("q267_semantic_decon")(
        spark, sf).collect()
        .map(r => r.getAs[Int]("label") ->
          ((r.getAs[Long]("n_train"), r.getAs[Long]("n_cont45"),
            r.getAs[Long]("n_cont99"), r.getAs[Double]("max_cos"))))
        .toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (l, got) =>
        assert(got == batch(l), s"label $l: stream=$got batch=${batch(l)}")
      }
      // non-vacuous: the planted replicas cross the tau=0.99 gate
      assert(streamed.values.map(_._3).sum > 0)
    } finally q.stop()
  }

  test("a checkpointed stateful query's batches start no process") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreaming.Event]
    val cp = Files.createTempDirectory("cpforks")
    var q: StreamingQuery = null
    try {
      // offsets, commits and state files go through FileContext
      val (_, cmds) = graft.ProcessCount {
        q = input.toDF().groupBy("event_type").count()
          .writeStream.format("memory").queryName("cpforks")
          .outputMode("complete")
          .option("checkpointLocation", cp.toString).start()
        input.addData(
          EventStreaming.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0))
        q.processAllAvailable()
        input.addData(
          EventStreaming.Event(2, ts("2024-01-01 10:06:00"), 2, "click", 1.0))
        q.processAllAvailable()
      }
      // Spark's session-artifact cleaner deletes the directory of any
      // session collected during the window with a forked `rm -rf`; the
      // sessions earlier streaming queries cloned are not this query's
      val (cleaner, own) = cmds.partition(_.frames
        .exists(_.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))
      cleaner.foreach(c => println(s"[cpforks] artifact cleaner start: $c"))
      assert(own.isEmpty, own)
      assert(spark.table("cpforks").as[(String, Long)].collect()
        .toSeq == Seq(("click", 2L)))
      assert(Files.exists(cp.resolve("commits/1")))
      assert(Files.exists(cp.resolve("state/0/0/2.delta")))
    } finally if (q != null) q.stop()
  }
}
