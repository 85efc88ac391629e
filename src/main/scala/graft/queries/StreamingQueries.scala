package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Trajectories
import graft.lag.Lag
import graft.agg.Covariance
import graft.linalg.LinAlg
import graft.markov.TransitionCounting
import graft.text.{Bpe, Packing, Pii, Scoring, TextFunctions}
import graft.dedup.Dedup
import graft.operators.Joins
import graft.similarity.Similarity
import graft.queries.QShared._

/** StreamingQueries: structured-streaming count matrix, dedup, session windows, rolling features (MemoryStream harnesses).
  *
  * One slice of the driver-contract registry (VERDICT r06 item 8 split
  * of the 5,000-line SparkEntry monolith). Entry bodies are UNCHANGED;
  * graft.SparkEntry merges every family into the single `queries` /
  * `oracleSql` maps the driver consumes, and ContractSpec keeps the
  * key sets equal. */
private[graft] object StreamingQueries extends QueryFamily {

  /** Dedicated harness session: 4 shuffle partitions — state-store
    * count per stateful op, the fixed per-batch cost driver (q102's
    * note). One helper instead of twelve copies (r14). Checkpoints stay
    * on the default temp dir: tmpfs checkpoints were MEASURED neutral
    * (page cache absorbs the tiny WAL writes; the residual floor is
    * micro-batch scheduling latency, not I/O). */
  private def streamSession(s0: SparkSession): SparkSession = {
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions", 4)
    // state store: the default HDFS-backed in-memory provider; RocksDB
    // measured 1.06x slower on these model-sized states
    // (plans/r18/streaming_ab.md) — its native column-family setup per
    // store dominates at this state size.
    s
  }
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- Structured Streaming under the oracle gate (q102): the
    // flatMapGroupsWithState lag pairing + update-mode count aggregation
    // (streaming/Streaming.scala) run as a REAL StreamingQuery over the
    // events-derived dtraj, fed through a MemoryStream in two event-time
    // chunks so the lag buffer genuinely crosses a micro-batch boundary;
    // the final complete-mode sink must equal the batch sliding count
    // matrix that DuckDB recomputes (q05's twin). The driver-side feed is
    // the test-harness transport only — the operator itself holds O(tau)
    // state per trajectory and n^2 aggregation state, unbounded-stream
    // safe at any rate. -------------------------------------------------
    "q102_streaming_counts" -> ((s0, dir) => {
      // dedicated session: state-store count per stateful op = shuffle
      // partitions, and each store checkpoints per micro-batch — 32
      // partitions x 2 stateful ops x 4 batches is ~256 store commits for
      // a toy stream. 4 partitions keeps the harness honest (parallel
      // state, cross-batch buffers) at 1/8 the fixed cost; a real
      // deployment sizes this to the key cardinality as usual.
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val data = dtrajEv(s, dir)
        .as[(Long, Long, Int)].collect()
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Int)]
      val stream = mem.toDF().toDF("traj_id", "t", "state")
      val counts = graft.streaming.Streaming.streamingCountMatrix(stream, tau = 1)
      val sink = "q102_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = counts.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try {
        // two event-time chunks (VERDICT r13 task 6, the r10 item-3
        // discipline): one batch boundary is all the lag buffer needs
        // to prove cross-batch carry, and each processAllAvailable is a
        // full micro-batch scheduling round-trip
        val tmax = data.iterator.map(_._2).max
        (0 to 1).foreach { k =>
          val lo = (tmax + 1) * k / 2
          val hi = (tmax + 1) * (k + 1) / 2
          val chunk = data.filter(r => r._2 >= lo && r._2 < hi)
          if (chunk.nonEmpty) mem.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
      } finally query.stop()
      s.table(sink).select(col("s0"), col("s1"), col("cnt").cast("long").as("cnt"))
    }),

    // ---- checkpoint-recovery exactly-once (q210): q102's streaming
    // count matrix run across a PLANNED STOP AND RESTART — two chunks
    // feed query #1, it stops, a NEW query resumes from the same
    // checkpointLocation and feeds the rest. The lag-pair buffers and
    // aggregation state must come back from the state-store checkpoint,
    // and the re-planned query must not re-count committed offsets: the
    // final matrix must STILL equal the batch twin. This is the property
    // that makes a 100 TB streaming job survive deploys — recovery is
    // exactly-once, not at-least-once. ----------------------------------
    "q210_stream_restart" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val data = dtrajEv(s, dir).as[(Long, Long, Int)].collect()
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Int)]
      val stream = mem.toDF().toDF("traj_id", "t", "state")
      val counts = graft.streaming.Streaming.streamingCountMatrix(stream, tau = 1)
      val sink = "q210_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val ckpt = java.nio.file.Files.createTempDirectory("q210_ckpt").toString
      def start() = counts.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      val tmax = data.iterator.map(_._2).max
      // ONE feed per query (VERDICT r13 task 6): the boundary under
      // test is the RESTART — q102 already pins cross-batch carry
      // within a single query, so each query runs one micro-batch and
      // the lag buffers must survive the stop/start in between
      def feed(query: org.apache.spark.sql.streaming.StreamingQuery, k: Int): Unit = {
        val lo = (tmax + 1) * k / 2
        val hi = (tmax + 1) * (k + 1) / 2
        val chunk = data.filter(r => r._2 >= lo && r._2 < hi)
        if (chunk.nonEmpty) mem.addData(chunk.toIndexedSeq: _*)
        query.processAllAvailable()
      }
      val q1 = start()
      try feed(q1, 0) finally q1.stop()
      val q2 = start()
      try feed(q2, 1) finally q2.stop()
      s.table(sink).select(col("s0"), col("s1"), col("cnt").cast("long").as("cnt"))
    }),

    // ---- watermarked stream-stream join under the ORACLE gate (q163):
    // the attribution join (purchase within 1 h after a click, same
    // user) as a REAL inner stream-stream join — both sides watermarked,
    // the range predicate on the event-time columns so join state
    // expires instead of growing with the stream. Events feed in
    // event-time order across two micro-batches cutting through the
    // window, so matches genuinely span batch boundaries (TWO event-time
    // halves: each processAllAvailable is a full micro-batch scheduling
    // round-trip with per-partition state commits, the dominant cost of
    // the harness — VERDICT r10 item 3 cut the chunk count to the
    // minimum that still crosses a batch boundary); the emitted pair
    // set must equal the batch interval join the twin replays. ----
    "q163_streaming_join" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      // deterministic quarter of the users: the harness feeds rows
      // driver-side, and the full sf0.1 event stream through two
      // MemoryStreams + join state costs ~9 s of pure transport; the
      // operator under test is identical (the twin mirrors the slice)
      val ev = Trajectories.events(s, dir)
        .where(col("user_id") % 4 === 0)
        .select(col("event_id").cast("long"), col("user_id").cast("long"),
          expr("ts div 1000").as("tsu"), col("event_type"))
        .as[(Long, Long, Long, String)].collect().sortBy(_._3)
      val memC = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val memP = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val joined = graft.streaming.Streaming.streamingIntervalJoin(
        memC.toDF().toDF("event_id", "user_id", "tsu"),
        memP.toDF().toDF("event_id", "user_id", "tsu"),
        windowMicros = 3600000000L)
      val sink = "q163_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val clicks = ev.filter(_._4 == "click").map(e => (e._1, e._2, e._3))
        val purchases = ev.filter(_._4 == "purchase").map(e => (e._1, e._2, e._3))
        val tmax = ev.iterator.map(_._3).max
        val tmin = ev.iterator.map(_._3).min
        (0 to 1).foreach { k =>
          val hi = tmin + (tmax - tmin + 1) * (k + 1) / 2
          val lo = tmin + (tmax - tmin + 1) * k / 2
          val cc = clicks.filter(e => e._3 >= lo && e._3 < hi)
          val pp = purchases.filter(e => e._3 >= lo && e._3 < hi)
          if (cc.nonEmpty) memC.addData(cc.toIndexedSeq: _*)
          if (pp.nonEmpty) memP.addData(pp.toIndexedSeq: _*)
          query.processAllAvailable()
        }
      } finally query.stop()
      s.table(sink).select(col("click_event_id"), col("user_id"),
        col("t_click"), col("purchase_event_id"), col("t_purchase"))
    }),

    // ---- LEFT OUTER watermarked stream-stream join (q227): q163's
    // attribution join plus its complement — clicks with NO purchase in
    // the hour window emit with null purchase columns, and ONLY after
    // the watermark proves no match can still arrive (the state store
    // holds each click until its window is provably closed). Far-future
    // sentinel rows on BOTH streams (negative ids, filtered from the
    // result) push the global watermark past every real event so the
    // unmatched tail flushes; the emitted set must equal the batch LEFT
    // JOIN the twin replays — a dropped unmatched click (watermark bug)
    // or a duplicate emission (state bug) breaks the hash. --------------
    "q227_streaming_outer_join" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Trajectories.events(s, dir)
        .where(col("user_id") % 4 === 0)
        .select(col("event_id").cast("long"), col("user_id").cast("long"),
          expr("ts div 1000").as("tsu"), col("event_type"))
        .as[(Long, Long, Long, String)].collect().sortBy(_._3)
      val memC = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val memP = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val joined = graft.streaming.Streaming.streamingIntervalJoin(
        memC.toDF().toDF("event_id", "user_id", "tsu"),
        memP.toDF().toDF("event_id", "user_id", "tsu"),
        windowMicros = 3600000000L, joinType = "leftOuter")
      val sink = "q227_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val clicks = ev.filter(_._4 == "click").map(e => (e._1, e._2, e._3))
        val purchases = ev.filter(_._4 == "purchase").map(e => (e._1, e._2, e._3))
        val tmax = ev.iterator.map(_._3).max
        // TWO scheduling rounds (VERDICT r14 task 3, the q111 r12 fold
        // taken to its minimum): the boundary under test is the
        // WATERMARK CLOSE flushing the unmatched tail — cross-batch
        // matching is q163's contract, per-query state carry q102's, so
        // neither needs a data split here. All real rows plus the first
        // far-future sentinel pair ride in ONE batch (the watermark
        // during batch 1 is the initial floor, so nothing is late or
        // pre-closed and every inner match emits); the second sentinel
        // batch then runs under a watermark already past every real
        // click window, evicting each unmatched click as a null row.
        val s1 = tmax + 86400000000L
        memC.addData((clicks :+ ((-1L, -1L, s1))).toIndexedSeq: _*)
        memP.addData((purchases :+ ((-1L, -1L, s1))).toIndexedSeq: _*)
        query.processAllAvailable()
        memC.addData((-1L, -1L, s1 + 86400000000L))
        memP.addData((-1L, -1L, s1 + 86400000000L))
        query.processAllAvailable()
      } finally query.stop()
      s.table(sink).where(col("user_id") >= 0)
        .select(col("click_event_id"), col("user_id"),
          col("t_click"), col("purchase_event_id"), col("t_purchase"))
    }),

    // ---- streaming weighted reservoir under the ORACLE gate (q159):
    // the q155 ES sampler as a REAL update-mode StreamingQuery — per
    // shard, O(k) state folds arrivals into the running top-k; because
    // the integer ES key is a pure function of (id, weight), the
    // streaming sample equals the batch selection whatever the arrival
    // order or micro-batch cuts, and the q155 twin gates it exactly.
    // Docs stream in doc_id order across micro-batches; the sink
    // reader takes each shard's LATEST emission (max seen) and the
    // global k-best of the shard tops. ---------------------------------
    "q159_streaming_reservoir" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val data = docs(s, dir)
        .select(col("doc_id").cast("long"), col("n_chars").cast("long"),
          Packing.reservoirKey(col("doc_id"), col("n_chars")).as("rkey"))
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val stream = mem.toDF().toDF("doc_id", "n_chars", "rkey")
      val res = graft.streaming.Streaming.streamingReservoir(stream, k = 20)
      val sink = "q159_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = res.writeStream.format("memory").queryName(sink)
        .outputMode("update").start()
      try {
        // two chunks (VERDICT r10 item 3's discipline, applied to the
        // grouped feeds too): each processAllAvailable is a full
        // micro-batch scheduling round-trip, and two batches already
        // cross every state boundary the harness exists to exercise
        data.grouped(math.max(1, data.length / 2 + 1)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
      } finally query.stop()
      val latest = Window.partitionBy("shard").orderBy(col("seen").desc)
      s.table(sink)
        .withColumn("rn", row_number().over(latest)).where(col("rn") === 1)
        .select(explode(arrays_zip(col("rkeys"), col("ids"), col("weights"))).as("t"))
        .select(col("t.ids").as("doc_id"), col("t.weights").as("n_chars"),
          col("t.rkeys").as("rkey"))
        .orderBy(col("rkey").desc, col("doc_id")).limit(20)
    }),

    // ---- streaming rolling features under the ORACLE gate (q126): the
    // q114 point-in-time feature primitive as a REAL append-mode
    // StreamingQuery — per-user O(window) state serves strictly-prior
    // trailing avg/max/lag at ingest time (the online feature-store
    // shape). Events stream in event-time order across micro-batches
    // that cut through user histories, so state genuinely carries
    // across batch boundaries; the emitted set must hash-match the batch
    // window twin row for row. ------------------------------------------
    "q126_streaming_features" -> ((s0, dir) => {
      // isolated session: the 4-partition state-store sizing (q102
      // rationale) must not leak into later queries on the shared session
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val data = Trajectories.events(s, dir)
        .select(col("event_id").cast("long"), col("user_id").cast("long"),
          col("ts").cast("long"), col("value").cast("double"))
        .as[(Long, Long, Long, Double)].collect()
        .sortBy(r => (r._3, r._1))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, Double)]
      val stream = mem.toDF().toDF("event_id", "user_id", "t", "value")
      val feats = graft.streaming.Streaming.rollingFeaturesStream(stream, 5)
      val sink = "q126_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = feats.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        // two chunks (VERDICT r10 item 3's discipline, applied to the
        // grouped feeds too): each processAllAvailable is a full
        // micro-batch scheduling round-trip, and two batches already
        // cross every state boundary the harness exists to exercise
        data.grouped(math.max(1, data.length / 2 + 1)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq: _*)
          query.processAllAvailable()
        }
      } finally query.stop()
      s.table(sink).select(col("event_id"), col("user_id"), col("value"),
        round(col("trail_avg"), 6).as("trail_avg"), col("trail_max"),
        col("prev_value"), col("n_trail"))
    }),

    // ---- streaming exact dedup under the oracle gate (q113): the
    // dropDuplicates state path run as a REAL append-mode StreamingQuery
    // over doc_id-ordered chunks (each chunk pre-deduped driver-side so
    // the within-batch keep is well-defined; CROSS-batch exactly-once is
    // what the state store must deliver). The corpus has no exact dups at
    // sf0.01, so every doc_id%10==0 text is re-fed as a clone at
    // doc_id+1e6 — the clones sort into LATER batches and the state
    // store must drop every one of them. The kept set must equal the
    // batch min-doc_id-per-fingerprint rule DuckDB replays over the same
    // augmented corpus — a duplicate emission or a dropped
    // first-occurrence breaks the hash. ---------------------------------
    "q113_streaming_dedup" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val orig = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
      val data = (orig ++ orig.filter(_._1 % 10 == 0)
        .map { case (id, t) => (id + 1000000L, t) }).sortBy(_._1)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val stream = mem.toDF().toDF("doc_id", "text")
      val dd = graft.streaming.Streaming.streamingDedup(stream)
      val sink = "q113_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = dd.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        // two chunks (VERDICT r10 item 3's discipline, applied to the
        // grouped feeds too): each processAllAvailable is a full
        // micro-batch scheduling round-trip, and two batches already
        // cross every state boundary the harness exists to exercise
        data.grouped(math.max(1, data.length / 2 + 1)).foreach { chunk =>
          val seen = scala.collection.mutable.HashSet.empty[String]
          // same normalization as TextFunctions.fingerprint (lower ->
          // \s+ collapse -> space trim), so the pre-dedup groups exactly
          // the rows the streaming fingerprint will
          val batch = chunk.filter { case (_, text) =>
            val k = text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
            seen.add(k.stripPrefix(" ").stripSuffix(" "))
          }
          if (batch.nonEmpty) mem.addData(batch.toIndexedSeq: _*)
          query.processAllAvailable()
        }
      } finally query.stop()
      s.table(sink).select(col("doc_id"), col("fp"))
    }),

    // ---- streaming dedup with TTL state (q206): q113's exactly-once
    // gate upgraded to BOUNDED state via dropDuplicatesWithinWatermark —
    // fingerprint state expires once the watermark passes its horizon,
    // which is what makes a streaming dedup run FOREVER at 100 TB/day
    // (q113's plain dropDuplicates state grows with corpus cardinality).
    // Event time is synthesized at 1 s per doc with every clone landing
    // 1 s after its original, so each duplicate arrives while the
    // original's state is still live whatever the chunking (the watermark
    // trails the clone's own event time by the full delay) — the emitted
    // set must therefore STILL equal the batch min-id-per-fingerprint
    // rule, and a premature state eviction breaks the hash. -------------
    "q206_stream_dedup_ttl" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val orig = docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect()
      val aug = orig ++ orig.filter(_._1 % 10 == 0)
        .map { case (id, t) => (id + 1000000L, t) }
      // base epoch offset: a row at event time 0 sits ON the initial
      // watermark and is discarded as late before any state exists
      val base = 1000000000000000L
      val data = aug.map { case (id, t) =>
        val tsu = base + (if (id >= 1000000L) (id - 1000000L) * 1000000L + 1000000L
                          else id * 1000000L)
        (id, tsu, t)
      }.sortBy(r => (r._2, r._1))
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
      val stream = mem.toDF().toDF("doc_id", "tsu", "text")
        .withColumn("ts", timestamp_micros(col("tsu")))
        .withWatermark("ts", "2000 seconds")
      val dd = graft.streaming.Streaming.streamingDedup(stream, withinWatermark = true)
      val sink = "q206_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = dd.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        // two chunks (VERDICT r10 item 3's discipline, applied to the
        // grouped feeds too): each processAllAvailable is a full
        // micro-batch scheduling round-trip, and two batches already
        // cross every state boundary the harness exists to exercise
        data.grouped(math.max(1, data.length / 2 + 1)).foreach { chunk =>
          val seen = scala.collection.mutable.HashSet.empty[String]
          val batch = chunk.filter { case (_, _, text) =>
            val k = text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
            seen.add(k.stripPrefix(" ").stripSuffix(" "))
          }
          if (batch.nonEmpty) mem.addData(batch.toIndexedSeq: _*)
          query.processAllAvailable()
        }
      } finally query.stop()
      s.table(sink).select(col("doc_id"), col("fp"))
    }),

    // ---- streaming session windows under the oracle gate (q111): the
    // session_window + watermark path (streaming/Streaming.scala) run as
    // a REAL append-mode StreamingQuery over event-time-ordered chunks,
    // with two far-future sentinel batches (negative user ids, filtered
    // out) pushing the watermark so every real session finalizes and is
    // emitted EXACTLY once; the emitted set must equal the batch
    // sessionization that DuckDB replays (q78's gap rule). ---------------
    "q111_streaming_sessions" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      // deterministic half of the users (q163's transport rationale —
      // the MemoryStream feed is driver-side row-at-a-time serialization;
      // the session operator under test is identical and the twin mirrors
      // the slice). Remaining wall-clock is the 4-round micro-batch
      // scheduling floor (~1.3 s/round on this box), not data volume:
      // measured 5.3 s with the full table, 5.3 s with the half, solo.
      val data = Trajectories.events(s, dir)
        .where(col("user_id") % 2 === 0)
        .select(col("user_id").cast("long"), expr("ts div 1000").cast("long"))
        .as[(Long, Long)].collect()
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val stream = mem.toDF().toDF("user_id", "tsu")
        .withColumn("ts", timestamp_micros(col("tsu")))
      val sess = graft.streaming.Streaming.sessionWindowCounts(
        stream, "ts", "user_id", gap = "30000 seconds", delay = "0 seconds")
      val sink = "q111_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = sess.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val tmax = data.iterator.map(_._2).max
        // TWO scheduling rounds total (the ~1.3 s/round floor was 4
        // rounds = 5.2 s solo, VERDICT r11 item 6): the far-future
        // watermark sentinel rides IN THE SAME batch as the data —
        // watermark updates at batch END, so it cannot drop the real
        // events it shares a batch with — and one eviction batch then
        // emits every real session (its watermark, set after batch 1,
        // is past every close point). Cross-batch session MERGING is
        // exercised by StreamingSpec ("session windows merge
        // gap-bounded events"), not by this oracle harness.
        mem.addData((data :+ ((-1L, tmax + 100L * 30000000000L))).toIndexedSeq: _*)
        query.processAllAvailable()
        mem.addData((-2L, tmax + 100L * 30000000000L + 1L))
        query.processAllAvailable()
      } finally query.stop()
      s.table(sink).where(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("sess_start")).as("sess_start_us"),
          col("n_events"))
    }),

    // ---- stream-static enrichment join (q172): the event stream joins a
    // STATIC per-user tier dimension (derived from the batch click
    // history: >= 12 clicks -> 'high'; an exact integer rule so tier
    // assignment can never ride on float sum-order) broadcast per micro-batch,
    // then per-day windows count events per tier — the "enrich with a
    // profile table" shape (streaming/Streaming.streamStaticWindowedCounts).
    // Users with no click history inner-join away, matching the twin.
    // Same chunked feed + same-far-window sentinel flush as q170. -------
    "q172_stream_static_join" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val widthUs = 86400000000L
      val ev = Trajectories.events(s, dir)
      val statics = ev.where(col("event_type") === "click")
        .groupBy(col("user_id").cast("long").as("user_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .select(col("user_id"),
          when(col("n_clicks") >= 12L, "high").otherwise("low").as("tier"))
      val data = ev
        .select(col("user_id").cast("long"), expr("ts div 1000").cast("long"))
        .as[(Long, Long)].collect()
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val stream = mem.toDF().toDF("user_id", "tsu")
        .withColumn("ts", timestamp_micros(col("tsu")))
      val counts = graft.streaming.Streaming.streamStaticWindowedCounts(
        stream, statics, "ts", "user_id", "tier", "1 day", "0 seconds")
      val sink = "q172_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = counts.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val tmax = data.iterator.map(_._2).max
        // TWO scheduling rounds (VERDICT r14 task 3; q111's r12 fold
        // taken to its minimum): the boundary under test is the
        // per-batch static-side enrichment plus the WATERMARK CLOSE of
        // the day windows — cross-batch window accumulation is ordinary
        // streaming-agg state carry (q102's contract), so no data split.
        // All real rows plus the far-window sentinel ride in ONE batch
        // (watermark during batch 1 is the initial floor — nothing late
        // or pre-closed); the second sentinel batch runs under a
        // watermark past every real window and flushes them all. Both
        // sentinels land INSIDE one far-future day window, which never
        // closes, so neither is emitted.
        val sentinel = ((tmax / widthUs) + 1000L) * widthUs + 1L
        mem.addData((data :+ ((-1L, sentinel))).toIndexedSeq: _*)
        query.processAllAvailable()
        mem.addData((-2L, sentinel + 1L))
        query.processAllAvailable()
      } finally query.stop()
      s.table(sink)
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("tier"), col("n"))
    }),

    // ---- watermark late-data drop (q195): the semantics every
    // watermarked pipeline lives by, pinned exactly — per-day event
    // counts stream in order and flush; then the corpus's EARLIEST event
    // (min (tsu, event_id)) is delivered LAST, long after the watermark
    // passed its window. Append mode must DROP it (the window was
    // finalized and its state evicted), so its day's count is short by
    // exactly one — which is precisely what the twin computes. A runtime
    // that silently reopened or double-emitted the window breaks the
    // hash. -------------------------------------------------------------
    "q195_streaming_late_drop" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val widthUs = 86400000000L
      val data = Trajectories.events(s, dir)
        .select(col("event_id").cast("long"), expr("ts div 1000").cast("long"))
        .as[(Long, Long)].collect()
      val late = data.minBy(r => (r._2, r._1)) // earliest event, delivered last
      val onTime = data.filterNot(_ == late)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val stream = mem.toDF().toDF("event_id", "tsu")
        .withColumn("ts", timestamp_micros(col("tsu")))
        .withColumn("one", lit(1))
      val counts = graft.streaming.Streaming.windowedStateCounts(
        stream, "ts", "one", "1 day", "0 seconds")
      val sink = "q195_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = counts.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val tmax = data.iterator.map(_._2).max
        // THREE scheduling rounds (VERDICT r14 task 3; was five): the
        // boundary under test is the late-data DROP, which needs only
        // (1) every on-time row plus the first far-window sentinel in
        // one batch (initial-floor watermark — nothing late yet),
        // (2) one eviction batch whose watermark is past every real
        // window, finalizing and emitting them, then (3) the late
        // delivery, now below the watermark with its window closed —
        // it must be dropped. Cross-batch accumulation is q102's
        // contract; the sentinels share one far-future day window that
        // never closes, so neither is emitted.
        val sentinel = ((tmax / widthUs) + 1000L) * widthUs + 1L
        mem.addData((onTime :+ ((-1L, sentinel))).toIndexedSeq: _*)
        query.processAllAvailable()
        mem.addData((-2L, sentinel + 1L))
        query.processAllAvailable()
        mem.addData(late)
        query.processAllAvailable()
      } finally query.stop()
      s.table(sink)
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("cnt").cast("long").as("cnt"))
    }),

    // ---- streaming windowed approx-distinct (q170): per-day tumbling
    // windows of distinct active users, computed as a REAL append-mode
    // StreamingQuery whose per-window state is ONE HLL++ sketch
    // (streaming/Streaming.windowedDistinct) — the windowed-distinct
    // shape that survives an unbounded high-cardinality stream. Fed in two
    // event-time chunks; two same-far-window sentinels push the watermark
    // past every real window WITHOUT emitting their own. The gate: every
    // streamed window must join an exact batch distinct count within the
    // 5% HLL tolerance (residual rounds to exactly 0.0), missing or
    // spurious windows surface as nulls that break the hash. ------------
    "q170_streaming_distinct" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val widthUs = 86400000000L // 1-day tumbling windows
      val data = Trajectories.events(s, dir)
        .select(col("user_id").cast("long"), expr("ts div 1000").cast("long"))
        .as[(Long, Long)].collect()
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val stream = mem.toDF().toDF("user_id", "tsu")
        .withColumn("ts", timestamp_micros(col("tsu")))
      val est = graft.streaming.Streaming.windowedDistinct(
        stream, "ts", "user_id", "1 day", "0 seconds", rsd = 0.02)
      val sink = "q170_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = est.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val tmax = data.iterator.map(_._2).max
        // TWO scheduling rounds (VERDICT r14 task 3; see q172 — the
        // same minimum): all real rows plus the far-window sentinel in
        // one initial-floor batch, then one eviction batch whose
        // watermark is past every real window. Per-window HLL state
        // carry across batches is q102-class streaming-agg state, not
        // this harness's boundary. Sentinels share one far-future day
        // window that never closes, so neither is emitted.
        val sentinel = ((tmax / widthUs) + 1000L) * widthUs + 1L
        mem.addData((data :+ ((-1L, sentinel))).toIndexedSeq: _*)
        query.processAllAvailable()
        mem.addData((-2L, sentinel + 1L))
        query.processAllAvailable()
      } finally query.stop()
      val streamed = s.table(sink)
        .select(unix_micros(col("win_start")).as("win_start_us"), col("est"))
      val exact = Trajectories.events(s, dir)
        .select((expr("ts div 1000").cast("long") / widthUs).cast("long")
            .multiply(widthUs).as("win_start_us"),
          col("user_id"))
        .groupBy("win_start_us")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      streamed.join(exact, Seq("win_start_us"), "full_outer")
        .select(col("win_start_us"),
          coalesce(col("n_exact"), lit(-1L)).as("n_exact"),
          round(greatest(lit(0.0),
            abs(coalesce(col("est"), lit(0L)) - col("n_exact")) /
              col("n_exact") - lit(0.05)), 6).as("err_over_5pct"))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    // Late-drop twin: per-day counts EXCLUDING the earliest event (the
    // row the watermark must discard).
    "q195_streaming_late_drop" ->
      """WITH d AS (SELECT event_id, epoch_us(ts) AS tsu,
             row_number() OVER (ORDER BY epoch_us(ts), event_id) AS rn
           FROM events)
         SELECT CAST((tsu // 86400000000) * 86400000000 AS BIGINT) AS win_start_us,
           CAST(count(*) AS BIGINT) AS cnt
         FROM d WHERE rn > 1 GROUP BY 1""",

    // Stream-static twin: the deterministic batch replay — same tier dim,
    // same inner join, same day windows.
    "q172_stream_static_join" ->
      """WITH t AS (SELECT user_id,
             CASE WHEN count(*) >= 12 THEN 'high' ELSE 'low' END AS tier
           FROM events WHERE event_type = 'click' GROUP BY 1),
         d AS (SELECT e.user_id, epoch_us(e.ts) AS tsu, t.tier
           FROM events e JOIN t USING (user_id))
         SELECT CAST((tsu // 86400000000) * 86400000000 AS BIGINT) AS win_start_us,
           tier, CAST(count(*) AS BIGINT) AS n
         FROM d GROUP BY 1, 2""",

    // Windowed-distinct twin: exact per-day distinct users; the streamed
    // HLL estimate must sit within 5% of every window's exact count.
    "q170_streaming_distinct" ->
      """WITH d AS (SELECT epoch_us(ts) AS tsu, user_id FROM events)
         SELECT CAST((tsu // 86400000000) * 86400000000 AS BIGINT) AS win_start_us,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           0.0 AS err_over_5pct
         FROM d GROUP BY 1""",

    // Batch replay of the attribution interval join — the streaming
    // pair set must match it exactly.
    "q163_streaming_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type
           FROM events),
         c AS (SELECT event_id AS click_event_id, user_id, t FROM e
           WHERE event_type = 'click' AND user_id % 4 = 0),
         p AS (SELECT event_id AS purchase_event_id, user_id, t AS tp FROM e
           WHERE event_type = 'purchase' AND user_id % 4 = 0)
         SELECT c.click_event_id, c.user_id, c.t AS t_click,
           p.purchase_event_id, p.tp AS t_purchase
         FROM c JOIN p USING (user_id)
         WHERE p.tp > c.t AND p.tp <= c.t + 3600000000""",

    // Outer-join twin: the batch LEFT JOIN — unmatched clicks carry
    // null purchase columns exactly once.
    "q227_streaming_outer_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type
           FROM events),
         c AS (SELECT event_id AS click_event_id, user_id, t FROM e
           WHERE event_type = 'click' AND user_id % 4 = 0),
         p AS (SELECT event_id AS purchase_event_id, user_id AS pu,
             t AS tp FROM e
           WHERE event_type = 'purchase' AND user_id % 4 = 0)
         SELECT c.click_event_id, c.user_id, c.t AS t_click,
           p.purchase_event_id, p.tp AS t_purchase
         FROM c LEFT JOIN p ON c.user_id = p.pu
           AND p.tp > c.t AND p.tp <= c.t + 3600000000""",

    // q155's integer ES replay — the streaming path must land on the
    // identical selection (order-independence of the pure-function key).
    "q159_streaming_reservoir" ->
      """WITH k AS (SELECT doc_id, n_chars,
           list_max(list_transform(range(1, greatest(n_chars, 1) + 1),
             j -> (((doc_id % 2147483647) * 1000003 + j) % 2147483647
                   * 506952114 + 101) % 2147483647)) AS rkey
           FROM documents)
         SELECT doc_id, n_chars, CAST(rkey AS BIGINT) AS rkey
         FROM k ORDER BY rkey DESC, doc_id LIMIT 20""",

    // Streaming-counts twin: the streaming query's final state must equal
    // the batch sliding count matrix (same SQL as q05's twin).
    "q102_streaming_counts" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d)
          SELECT s0, s1, count(*) AS cnt FROM p
          WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY s0, s1""",

    // Restart twin: recovery must not change the answer — identical to
    // the q102 batch formulation.
    "q210_stream_restart" ->
      s"""WITH d AS (SELECT user_id, ${Trajectories.eventTypeStateSql} AS state,
            ROW_NUMBER() OVER ($evWindowSql) - 1 AS t FROM events),
          p AS (SELECT state AS s0,
            LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY t) AS s1 FROM d)
          SELECT s0, s1, count(*) AS cnt FROM p
          WHERE s1 IS NOT NULL AND s0 >= 0 AND s1 >= 0 GROUP BY s0, s1""",

    // Streaming-dedup twin: the batch min-doc_id-per-fingerprint rule
    // over the SAME clone-augmented corpus (doc_id-ordered feed makes
    // the streaming first-occurrence = the global minimum).
    "q113_streaming_dedup" ->
      """WITH aug AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         f AS (SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
           FROM aug)
         SELECT doc_id, fp FROM
           (SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS mid FROM f)
         WHERE doc_id = mid""",

    // TTL-dedup twin: identical to q113's — every duplicate arrives
    // inside the original's state window, so bounded state must not
    // change the answer.
    "q206_stream_dedup_ttl" ->
      """WITH aug AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         f AS (SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
           FROM aug)
         SELECT doc_id, fp FROM
           (SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS mid FROM f)
         WHERE doc_id = mid""",

    // Streaming-sessions twin: the batch gap rule (q78), reporting each
    // session's exact start micros + event count.
    "q111_streaming_sessions" ->
      """WITH d AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
           WHERE user_id % 2 = 0),
         s AS (SELECT user_id, tsu, event_id,
           CASE WHEN lag(tsu) OVER w IS NULL OR tsu - lag(tsu) OVER w > 30000000000
             THEN 1 ELSE 0 END AS brk
           FROM d WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         x AS (SELECT user_id, tsu,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
             ROWS UNBOUNDED PRECEDING) AS sess
           FROM s)
         SELECT user_id, CAST(min(tsu) AS BIGINT) AS sess_start_us,
           CAST(count(*) AS BIGINT) AS n_events
         FROM x GROUP BY user_id, sess""",

    // Streaming-features twin: the BATCH window formulation (= q114's
    // twin) — the streaming state machine must reproduce it exactly.
    "q126_streaming_features" ->
      """SELECT event_id, user_id, value,
           round(avg(value) OVER trail, 6) AS trail_avg,
           max(value) OVER trail AS trail_max,
           lag(value, 1) OVER w AS prev_value,
           CAST(count(*) OVER trail AS BIGINT) AS n_trail
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           trail AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)""",
  )
}
