package graft.queries

import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming operators promoted into the batch correctness gate (VERDICT r2
  * "What's missing #2"): each query drives the REAL Structured Streaming
  * path (`readStream`/`MemoryStream` source → watermarked stateful
  * transform → memory sink), blocks until the stream drains, and returns
  * the sink contents as a deterministic batch DataFrame the DuckDB oracle
  * can hash-compare.
  *
  * Determinism: every input lands in event-time order with strictly
  * positive timestamps (an event AT the initial watermark of 0 is dropped
  * as late), state TTLs are sized so nothing expires mid-run, and outputs
  * are DISTINCT + totally ordered — so micro-batch boundaries cannot
  * change the result set.
  *
  * Event-time rule (VERDICT r10 #7): NEVER watermark a raw parquet ts
  * column — the testdata writer has shipped both nanos (reads as Long) and
  * NTZ micros (rejected by withWatermark) shapes. Either route the source
  * through [[Tables.normalizeTs]] (stream02) or synthesize event time with
  * `timestamp_millis` (stream06/08/09); batch feeds via [[Tables.load]]
  * are already normalized.
  */
object StreamingQueries {
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drain a streaming DataFrame into a uniquely named memory sink and
    * return the sink table. The memory sink is the only driver-side piece;
    * the transform under test is the distributed streaming plan. The feed
    * receives the running query so multi-batch feeds can force micro-batch
    * boundaries (watermark advancement is only visible to the NEXT batch). */
  private def drain(s: SparkSession, out: DataFrame, mode: String)
                   (feed: org.apache.spark.sql.streaming.StreamingQuery => Unit): DataFrame = {
    val sink = s"graft_stream_sink_${runSeq.incrementAndGet()}"
    val q = out.writeStream.outputMode(mode).format("memory").queryName(sink).start()
    try { feed(q); q.processAllAvailable() } finally q.stop()
    s.table(sink)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- stream01: streaming LSH near-duplicate candidates == the batch
    // candidate set. lshCandidatesStream (flatMapGroupsWithState, per-bucket
    // TTL state) over the same 200 embeddings dd05 reads; with every vector
    // inside one TTL window the emitted pairs are exactly the same-bucket
    // pairs of the batch derivation, so the oracle is dd05's candidate CTE.
    // The batch/stream twins sharing BandKeys.keysFor is what makes this an
    // equality, not a ⊆ check.
    QueryDef("stream01_lsh_candidates", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val vecs = Tables.load(s, d, "embeddings")
        .filter(col("vec_id") < 200)
        .collect() // 200 rows: MemoryStream feed plumbing, not the operator
        .map(r => StreamingOps.VecEvent(
          r.getLong(r.fieldIndex("vec_id")), 1000L,
          r.getSeq[Float](r.fieldIndex("embedding")).toArray))
        .toSeq
      val mem = MemoryStream[StreamingOps.VecEvent]
      val out = StreamingOps.lshCandidatesStream(mem.toDS(), ttlMs = 1L << 40)
      drain(s, out.toDF(), "append") { _ => mem.addData(vecs) }
        .select(col("ida"), col("idb")).distinct()
        .orderBy("ida", "idb")
    }, Some("""
      WITH planes AS (
        SELECT p, dim,
               (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(dim AS VARCHAR)),1,7))::BIGINT) % 2001 - 1000 AS w
        FROM generate_series(0, 15) tp(p), generate_series(1, 64) td(dim)),
      flat AS (
        SELECT vec_id, dim, CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim) WHERE vec_id < 200),
      proj AS (
        SELECT vec_id, p, CAST(SUM(xq*w) AS BIGINT) AS proj
        FROM flat JOIN planes USING (dim) GROUP BY vec_id, p),
      bands AS (
        SELECT vec_id, CAST(FLOOR(p/4.0) AS INTEGER) AS band,
               CAST(SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END) AS BIGINT) AS key
        FROM proj GROUP BY 1, 2)
      SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
      ORDER BY ida, idb""")),

    // ---- stream02: watermarked hourly rollup over a real FILE stream
    // (readStream.parquet on the events table — zero driver-side data
    // movement) in complete output mode, so the drained sink equals the
    // batch q25 aggregation and reuses its oracle verbatim.
    QueryDef("stream02_hourly_rollup", (s, d) => {
      val raw = s.read.parquet(s"$d/events.parquet")
      // the testdata tables are single parquet FILES; FileStreamSource
      // derives its basePath from the non-glob prefix of the path, so a
      // glob that matches the one file roots the base at the sf directory
      val stream0 = s.readStream.schema(raw.schema).parquet(s"$d/events.parque[t]")
      // raw parquet ts may be nanos-Long or NTZ depending on the testdata
      // writer — Tables.normalizeTs is the single source of truth for both
      // batch loads and stream sources (an NTZ ts fails withWatermark)
      val events = Tables.normalizeTs(stream0)
      drain(s, StreamingOps.hourlyRollup(events), "complete") { _ => () }
        .orderBy("hour", "event_type")
    }, Some("""
      SELECT date_trunc('hour', ts)::TIMESTAMP AS hour, event_type, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- stream03: stateful sessionization (flatMapGroupsWithState +
    // event-time timeout) == the batch q27 derivation, same oracle. All
    // real events land in batch 1; a far-future sentinel user then
    // advances the watermark past every open session's gap (batch 2), and
    // one more batch runs the timeout sweep that flushes them (timeouts
    // fire against the PREVIOUS batch's watermark). The sentinel's own
    // session never times out, so filtering it leaves exactly the
    // batch-complete session set — idle-flush semantics verified against
    // a window-function fixpoint the gate can hash.
    QueryDef("stream03_sessionize", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") <= 50)
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"))
        .as[StreamingOps.SessionEvent]
        .collect().toSeq // bounded feed plumbing (user_id <= 50 slice)
      val maxT = ev.map(_.tms).max
      val gapMs = 1800000L
      val mem = MemoryStream[StreamingOps.SessionEvent]
      val out = StreamingOps.sessionize(mem.toDS(), gapMs = gapMs)
      drain(s, out.toDF(), "append") { q =>
        mem.addData(ev); q.processAllAvailable()
        mem.addData(StreamingOps.SessionEvent(-1L, -1L, maxT + 3 * gapMs))
        q.processAllAvailable()
        mem.addData(StreamingOps.SessionEvent(-1L, -2L, maxT + 4 * gapMs))
      }
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_idx"), col("n_events"), col("dur_ms"))
        .orderBy("user_id", "session_idx")
    }, Some("""
      WITH marked AS (
        SELECT user_id, event_id, epoch_ms(ts) AS tms,
               CASE WHEN epoch_ms(ts) -
                    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                    > 1800000 THEN 1 ELSE 0 END AS boundary
        FROM events),
      sessions AS (
        SELECT user_id, event_id, tms,
               CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY tms, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_idx
        FROM marked)
      SELECT user_id, session_idx, COUNT(*) AS n_events,
             MAX(tms) - MIN(tms) AS dur_ms
      FROM sessions WHERE user_id <= 50
      GROUP BY user_id, session_idx ORDER BY user_id, session_idx""")),

    // ---- stream04: stream-stream interval join — clicks joined to
    // purchases of the same user within the trailing 10 minutes, both
    // sides UNBOUNDED streams with watermarks + a time-range predicate
    // (what bounds the join state at 100 TB/day: each side keeps only
    // rows younger than watermark+range). An inner interval join emits
    // each qualifying pair exactly once as both sides arrive, so the
    // drained sink aggregated per purchase equals the batch q32 oracle
    // verbatim. The post-sink groupBy is presentation over the (tiny)
    // matched-pair set; the operator under test is the streaming join.
    QueryDef("stream04_interval_join", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") <= 300 && col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"),
          col("event_type"))
      def feedOf(kind: String) = ev.filter(col("event_type") === kind)
        .select("user_id", "event_id", "tms")
        .as[StreamingOps.SessionEvent].collect().toSeq // bounded feed plumbing
      val clicks = MemoryStream[StreamingOps.SessionEvent]
      val purchases = MemoryStream[StreamingOps.SessionEvent]
      val cs = clicks.toDF()
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("tms").as("ctms"), timestamp_millis(col("tms")).as("cts"))
        .withWatermark("cts", "0 milliseconds")
      val ps = purchases.toDF()
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("tms").as("ptms"), timestamp_millis(col("tms")).as("pts"))
        .withWatermark("pts", "0 milliseconds")
      val joined = ps.join(cs, expr(
        """p_user = c_user AND cts >= pts - interval 10 minutes AND cts <= pts"""))
      drain(s, joined, "append") { _ =>
        clicks.addData(feedOf("click")); purchases.addData(feedOf("purchase"))
      }
        .groupBy(col("p_user").as("user_id"), col("purchase_id"))
        .agg(count(lit(1)).as("n_clicks"), min(col("click_id")).as("first_click_id"))
        .orderBy("purchase_id")
    }, Some("""
      SELECT p.user_id, p.event_id AS purchase_id, COUNT(*) AS n_clicks,
             MIN(c.event_id) AS first_click_id
      FROM (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events
            WHERE event_type = 'purchase' AND user_id <= 300) p
      JOIN (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events
            WHERE event_type = 'click' AND user_id <= 300) c
        ON p.user_id = c.user_id
       AND c.tms >= p.tms - 600000 AND c.tms <= p.tms
      GROUP BY 1, 2 ORDER BY purchase_id""")),

    // ---- stream05: streaming exact dedup (dropDuplicatesWithinWatermark,
    // the streaming twin of dd01) — the corpus is fed TWICE (second copy
    // 1 min later, well inside the 1 h watermark delay), so the operator
    // must suppress one full corpus of duplicates to match the DISTINCT
    // oracle. Output is the fingerprint set only: which physical row
    // survives per fp is arrival-order-dependent in any streaming dedup,
    // but the SET of fingerprints is deterministic and hashable. State is
    // bounded by delay × rate (dedupStream doc), not corpus size.
    QueryDef("stream05_exact_dedup", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .collect() // bounded feed plumbing, not the operator
        .map(r => (r.getLong(0), r.getString(1)))
      val feed = docs.map { case (id, tx) =>
        StreamingOps.DocEvent(id, tx, new java.sql.Timestamp(60000L + id))
      } ++ docs.map { case (id, tx) => // duplicate copy, +1 min event time
        StreamingOps.DocEvent(id, tx, new java.sql.Timestamp(120000L + id))
      }
      val mem = MemoryStream[StreamingOps.DocEvent]
      val out = StreamingOps.dedupStream(mem.toDF())
      drain(s, out, "append") { _ => mem.addData(feed.toSeq) }
        .select(col("fp"))
        .orderBy("fp")
    }, Some("SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp")),

    // ---- stream06: streaming decontamination — the stream-static join
    // pattern: training documents arrive as a real FILE stream (the
    // 100 TB ingest shape), the benchmark shingle set is a STATIC batch
    // relation joined into every micro-batch (Spark re-broadcasts it per
    // batch; at scale it's the small side by construction, same argument
    // as dd10). The shingle explode is stateless codegen inside the
    // micro-batch; the only streaming state is the doc_id dedup, and it is
    // WATERMARK-BOUNDED (ADVICE r8): ingest time is stamped on each doc and
    // dropDuplicatesWithinWatermark drops flag-state 1 h after the doc's
    // event time passes — at 100 TB the state is delay × flag-rate, not
    // corpus size. All shingle copies of a doc share its timestamp, so the
    // within-watermark dedup is exact here. Result == dd13's exact
    // contaminated-doc list, so the oracle is shared.
    QueryDef("stream06_decontaminate", (s, d) => {
      val raw = Tables.load(s, d, "documents")
      val bucket = TextDedup.h28(col("doc_id").cast("string")) % 20
      val bsh = TextDedup.shinglesOf(raw.filter(bucket === 0))
        .select("sh").distinct()
      // single-file table: glob the one file so FileStreamSource roots
      // its basePath at the sf directory (stream02 note)
      val stream0 = s.readStream.schema(raw.schema)
        .parquet(s"$d/documents.parque[t]")
      val tsh = TextDedup.shinglesRawOf(stream0.filter(bucket =!= 0))
      val flagged = tsh.join(bsh, Seq("sh"), "left_semi")
        .withColumn("ets", timestamp_millis(lit(60000L) + col("doc_id")))
        .withWatermark("ets", "1 hour")
        .dropDuplicatesWithinWatermark("doc_id")
        .select("doc_id")
      drain(s, flagged, "append") { _ => () }
        .orderBy("doc_id")
    }, Some("""
      WITH bench AS (SELECT doc_id, text FROM documents
                     WHERE (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7))::BIGINT) % 20 = 0),
      train AS (SELECT doc_id, text FROM documents
                WHERE (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7))::BIGINT) % 20 <> 0),
      bsh AS (SELECT DISTINCT ws[i]||' '||ws[i+1]||' '||ws[i+2] AS sh
              FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
                    FROM (SELECT doc_id, string_split(text,' ') AS ws FROM bench
                          WHERE len(string_split(text,' ')) >= 3))),
      tsh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS sh
              FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
                    FROM (SELECT doc_id, string_split(text,' ') AS ws FROM train
                          WHERE len(string_split(text,' ')) >= 3)))
      SELECT DISTINCT t.doc_id
      FROM tsh t JOIN bsh b ON t.sh = b.sh
      ORDER BY doc_id""")),

    // ---- stream07: crypto on the wire — the §2A operator surface lifted
    // onto a real file stream (encrypt-at-ingest → decrypt-for-processing,
    // the shape an encrypted 100 TB landing zone runs). Both UDF calls are
    // stateless per-row maps inside the micro-batch (no streaming state
    // but the fp dedup); ciphertexts are random per retry by design, so
    // the verifiable projection is the round-trip fingerprint set, exactly
    // the age03 determinism discipline.
    QueryDef("stream07_crypto_roundtrip", (s, d) => {
      graft.sql.AgeFunctions.register(s)
      val raw = Tables.load(s, d, "documents")
      val kp = graft.core.AgeKeys.fromSeed(Array.tabulate[Byte](32)(_.toByte))
      val stream0 = s.readStream.schema(raw.schema)
        .parquet(s"$d/documents.parque[t]")
      val rt = stream0
        .select(call_udf("age_encrypt",
          col("text").cast("binary"), lit(kp.publicKey)).as("ct"))
        .select(call_udf("age_decrypt", col("ct"), lit(kp.privateKey)).as("pt"))
        .select(md5(col("pt")).as("fp"))
        .dropDuplicates("fp")
      drain(s, rt, "append") { _ => () }
        .orderBy("fp")
    }, Some("SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp")),

    // ---- stream08: APPEND-mode watermark finalization — the semantics
    // stream02 (complete mode) does not exercise: a window row is emitted
    // exactly once, only after the watermark passes its end, and its state
    // is then dropped (what bounds rollup state at 100 TB/day). A
    // far-future sentinel advances the watermark past every real window
    // (batch 2) and a second sentinel runs the eviction sweep (emission
    // happens against the PREVIOUS batch's watermark — stream03's
    // pattern); the sentinel's own still-open window is filtered, leaving
    // exactly the batch q25 aggregation over the same slice.
    QueryDef("stream08_append_rollup", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") <= 50)
        .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
        .collect().toSeq // bounded feed plumbing (user_id <= 50 slice)
        .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
      val maxMs = ev.map(_._1.getTime).max
      val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
      val out = StreamingOps.hourlyRollup(mem.toDF().toDF("ts", "event_type", "value"))
      drain(s, out, "append") { q =>
        mem.addData(ev); q.processAllAvailable()
        mem.addData((new java.sql.Timestamp(maxMs + 36000000L), "zz", 0.0))
        q.processAllAvailable()
        mem.addData((new java.sql.Timestamp(maxMs + 72000000L), "zz", 0.0))
      }
        .filter(col("event_type") =!= "zz")
        .orderBy("hour", "event_type")
    }, Some("""
      SELECT date_trunc('hour', ts)::TIMESTAMP AS hour, event_type, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events WHERE user_id <= 50 GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- stream09: NATIVE session windows — q27's gaps-and-islands
    // sessionization re-expressed on Spark's built-in session_window
    // (merging-interval state store), the streaming-first way to
    // sessionize an unbounded event stream: state per OPEN session only,
    // closed + emitted once the watermark passes session end (stream08's
    // append-mode discipline, two-sentinel eviction). Semantics note:
    // session_window starts a new session at gap >= 30 min (an event AT
    // the merged window's exclusive end does not extend it), so the
    // oracle's boundary predicate is >=, where q27's batch LAG idiom
    // uses >. dur_ms = window end - start - gap == last - first event.
    QueryDef("stream09_session_window", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") <= 50)
        .select(col("ts").cast("timestamp"), col("user_id"))
        .collect().toSeq // bounded feed plumbing (user_id <= 50 slice)
        .map(r => (r.getTimestamp(0), r.getLong(1)))
      val maxMs = ev.map(_._1.getTime).max
      val mem = MemoryStream[(java.sql.Timestamp, Long)]
      val out = mem.toDF().toDF("ts", "user_id")
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_millis(col("sw.start")).as("sess_start"),
          (unix_millis(col("sw.end")) - unix_millis(col("sw.start"))
            - lit(1800000L)).as("dur_ms"),
          col("n_events"))
      drain(s, out, "append") { q =>
        mem.addData(ev); q.processAllAvailable()
        mem.addData((new java.sql.Timestamp(maxMs + 36000000L), -1L))
        q.processAllAvailable()
        mem.addData((new java.sql.Timestamp(maxMs + 72000000L), -1L))
      }
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "sess_start")
    }, Some("""
      WITH marked AS (
        SELECT user_id, epoch_ms(ts) AS tms,
               CASE WHEN epoch_ms(ts) -
                    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                    >= 1800000 THEN 1 ELSE 0 END AS boundary
        FROM events WHERE user_id <= 50),
      sessions AS (
        SELECT user_id, tms,
               SUM(boundary) OVER (PARTITION BY user_id ORDER BY tms
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id, MIN(tms) AS sess_start,
             CAST(MAX(tms) - MIN(tms) AS BIGINT) AS dur_ms,
             COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, sid ORDER BY user_id, sess_start""")),

    // ---- stream11: stream-stream LEFT OUTER interval join — the
    // semantics stream04 (inner) cannot show: a purchase with NO click in
    // its trailing 10-minute window must still emit, null-matched — and in
    // a stream that row can only be produced once the watermark proves no
    // matching click can still arrive (state eviction IS the null-emission
    // trigger). Sentinels on BOTH streams advance both watermarks past
    // every real window, and a second sentinel batch runs the eviction
    // sweep that flushes the null-matched rows (timeouts fire against the
    // PREVIOUS batch's watermark — stream03's two-sentinel pattern). The
    // per-purchase rollup counts non-null clicks, so matched and unmatched
    // purchases land in ONE deterministic relation == the batch LEFT JOIN.
    QueryDef("stream11_outer_interval_join", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") <= 300 && col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("tms"),
          col("event_type"))
      def feedOf(kind: String) = ev.filter(col("event_type") === kind)
        .select("user_id", "event_id", "tms")
        .as[StreamingOps.SessionEvent].collect().toSeq // bounded feed plumbing
      val maxT = ev.agg(max(col("tms"))).collect()(0).getLong(0)
      val clicks = MemoryStream[StreamingOps.SessionEvent]
      val purchases = MemoryStream[StreamingOps.SessionEvent]
      val cs = clicks.toDF()
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          timestamp_millis(col("tms")).as("cts"))
        .withWatermark("cts", "0 milliseconds")
      val ps = purchases.toDF()
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          timestamp_millis(col("tms")).as("pts"))
        .withWatermark("pts", "0 milliseconds")
      val joined = ps.join(cs, expr(
        """p_user = c_user AND cts >= pts - interval 10 minutes AND cts <= pts"""),
        "left_outer")
      val far1 = maxT + 3600000L; val far2 = maxT + 7200000L
      drain(s, joined, "append") { q =>
        clicks.addData(feedOf("click")); purchases.addData(feedOf("purchase"))
        q.processAllAvailable()
        clicks.addData(StreamingOps.SessionEvent(-1L, -1L, far1))
        purchases.addData(StreamingOps.SessionEvent(-1L, -1L, far1))
        q.processAllAvailable()
        clicks.addData(StreamingOps.SessionEvent(-1L, -2L, far2))
        purchases.addData(StreamingOps.SessionEvent(-1L, -2L, far2))
      }
        .filter(col("p_user") >= 0)
        .groupBy(col("p_user").as("user_id"), col("purchase_id"))
        .agg(count(col("click_id")).as("n_clicks"),
          coalesce(min(col("click_id")), lit(-1L)).as("first_click_id"))
        .orderBy("purchase_id")
    }, Some("""
      SELECT p.user_id, p.event_id AS purchase_id,
             COUNT(c.event_id) AS n_clicks,
             COALESCE(MIN(c.event_id), -1) AS first_click_id
      FROM (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events
            WHERE event_type = 'purchase' AND user_id <= 300) p
      LEFT JOIN (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events
                 WHERE event_type = 'click' AND user_id <= 300) c
        ON p.user_id = c.user_id
       AND c.tms >= p.tms - 600000 AND c.tms <= p.tms
      GROUP BY 1, 2 ORDER BY purchase_id""")),

    // ---- stream10: streaming JSONL ingest — tx19's interchange format on
    // the arrival path a 100 TB landing zone actually has: documents land
    // as newline-delimited JSON files, readStream discovers and parses
    // them with an EXPLICIT schema (inference on a stream is a trap: it
    // samples only the files present at start), and a complete-mode
    // rollup proves every row survived the trip. The JSONL zone is
    // written batch-side first (tx19's writer, unique dir per invocation
    // — Verify runs queries concurrently); the operator under test is the
    // json FileStreamSource + the streaming aggregate.
    QueryDef("stream10_jsonl_ingest", (s, d) => {
      val tmp = TempDirs.create("graft_jsonl_stream_")
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").json(tmp)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING").json(tmp)
      val rolled = stream.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          min(col("doc_id")).as("first_doc"))
      drain(s, rolled, "complete") { _ => () }
        .orderBy("lang")
    }, Some("""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             MIN(doc_id) AS first_doc
      FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- stream12: LATE-DATA DROP — the watermark semantics stream08
    // does not prove: after the watermark has passed every real window
    // (sentinel batch), a FULL REPLAY of the click events arrives below
    // the watermark. Every replayed row must be dropped — its window's
    // state was already finalized, emitted, and evicted — so the sink
    // equals the batch aggregate that counts each event exactly ONCE; if
    // any late row were admitted (or re-opened a window as a duplicate
    // append row), the click counts double and the hash breaks. This is
    // the contract that bounds state at 100 TB/day: arbitrarily old data
    // may arrive forever, and the operator must stay O(delay × rate), not
    // reprocess it.
    QueryDef("stream12_late_data_drop", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") <= 50)
        .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
        .collect().toSeq // bounded feed plumbing (user_id <= 50 slice)
        .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
      val maxMs = ev.map(_._1.getTime).max
      val replay = ev.filter(_._2 == "click")
      val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
      val out = StreamingOps.hourlyRollup(mem.toDF().toDF("ts", "event_type", "value"))
      drain(s, out, "append") { q =>
        mem.addData(ev); q.processAllAvailable()
        // sentinel: watermark passes every real window (2 h delay < 10 h)
        mem.addData((new java.sql.Timestamp(maxMs + 36000000L), "zz", 0.0))
        q.processAllAvailable()
        // the late replay: every row is now below the watermark
        mem.addData(replay); q.processAllAvailable()
        // second sentinel runs the final eviction sweep (stream08 pattern)
        mem.addData((new java.sql.Timestamp(maxMs + 72000000L), "zz", 0.0))
      }
        .filter(col("event_type") =!= "zz")
        .orderBy("hour", "event_type")
    }, Some("""
      SELECT date_trunc('hour', ts)::TIMESTAMP AS hour, event_type, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events WHERE user_id <= 50 GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- stream13: STREAM-STATIC enrichment join — the dimension-lookup
    // shape every production event pipeline runs: a real file stream
    // (stream02's source) inner-joined per micro-batch against a static
    // customer→nation dimension, then aggregated per nation. The static
    // side is explicitly broadcast: at 100 TB/day of events the dimension
    // is the small side by construction and a broadcast-hash join keeps
    // the stream side shuffle-free below the aggregation — the exact
    // reason stream-static (unlike stream-stream) joins need no state
    // store or watermark: the static side never changes mid-query, so
    // each micro-batch joins it like any batch plan.
    QueryDef("stream13_static_enrichment", (s, d) => {
      val raw = s.read.parquet(s"$d/events.parquet")
      val stream0 = s.readStream.schema(raw.schema).parquet(s"$d/events.parque[t]")
      val events = Tables.normalizeTs(stream0)
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nation = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val dim = cust.join(nation, cust("c_nationkey") === nation("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val joined = events.join(broadcast(dim),
        events("user_id") === dim("c_custkey"))
      val agg = joined.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("value_cents"))
      drain(s, agg, "complete") { _ => () }.orderBy("n_name")
    }, Some("""
      SELECT n_name, COUNT(*) AS n_events,
             CAST(SUM(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events JOIN customer ON user_id = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1 ORDER BY n_name""")),

    // ---- stream14: STREAMING Count-Min heavy hitters — tx26's sketch
    // built inside Structured Streaming state: the custom cms_agg
    // TypedImperativeAggregate runs as the stateful aggregation of a
    // complete-mode stream (documents arrive as micro-batches, the word
    // explode is stateless in-batch, the 8 KB counter grid IS the
    // operator state and merges associatively across batches — the exact
    // property that makes CMS the streaming heavy-hitter primitive).
    // The drained sketch is then probed with the batch-exact top-10,
    // and the whole result must hash-equal tx26's batch oracle: a
    // cross-engine AND batch/stream consistency gate in one.
    QueryDef("stream14_cms_heavy_hitters", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val feed = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .collect() // bounded feed plumbing, not the operator
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val mem = MemoryStream[(Long, String)]
      val words = mem.toDF().toDF("doc_id", "text")
        .select(explode(split(col("text"), " ")).as("w"))
        .select(TextDedup.h28(col("w")).as("h"))
      val agg = words.groupBy().agg(graft.functions.CmsAgg.cms_agg(col("h")).as("sk"))
      val sketch = drain(s, agg, "complete") { q =>
        // three micro-batches so the state actually merges across batches;
        // processAllAvailable between the groups forces a batch boundary —
        // without it the already-running query races the addData calls and
        // may fold everything into one batch, leaving the cross-batch
        // merge property untested on some runs (ADVICE r12)
        feed.grouped(math.max(1, feed.size / 3 + 1)).foreach { g =>
          mem.addData(g); q.processAllAvailable()
        }
      }
      val toks = Tables.load(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .withColumn("h", TextDedup.h28(col("w")))
      val top = toks.groupBy("w")
        .agg(count(lit(1)).as("n"), min(col("h")).as("h"))
        .orderBy(col("n").desc, col("w")).limit(10)
      import graft.functions.MinHashAgg
      val est = (0 until graft.functions.CmsAgg.D).map { j =>
        val bucket = ((col("h") * MinHashAgg.A(j) + MinHashAgg.B(j)) % MinHashAgg.P) % 256
        element_at(col("sk"), (bucket + j * 256 + 1).cast("int"))
      }.reduce(least(_, _))
      top.crossJoin(broadcast(sketch))
        .select(col("w"), col("n"), est.as("cms_est"))
        .orderBy(col("n").desc, col("w"))
    }, Some(s"""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      hs AS (SELECT w, ('0x' || substr(md5(w),1,7))::BIGINT AS h FROM toks),
      cj AS (SELECT * FROM (VALUES ${(0 until 4).map(j =>
        s"(${j}, ${graft.functions.MinHashAgg.A(j)}, ${graft.functions.MinHashAgg.B(j)})")
        .mkString(", ")}) AS t(j, aj, bj)),
      counters AS (
        SELECT j, ((h*aj + bj) % ${graft.functions.MinHashAgg.P}) % 256 AS bucket, COUNT(*) AS c
        FROM hs CROSS JOIN cj GROUP BY 1, 2),
      tf AS (SELECT w, COUNT(*) AS n, MIN(h) AS h FROM hs GROUP BY w),
      top AS (SELECT * FROM tf ORDER BY n DESC, w LIMIT 10),
      est AS (
        SELECT top.w, top.n, MIN(c.c) AS cms_est
        FROM top CROSS JOIN cj
        JOIN counters c ON c.j = cj.j
         AND c.bucket = ((top.h*cj.aj + cj.bj) % ${graft.functions.MinHashAgg.P}) % 256
        GROUP BY 1, 2)
      SELECT w, n, CAST(cms_est AS BIGINT) AS cms_est
      FROM est ORDER BY n DESC, w""")),

    // ---- stream15: INCREMENTAL INDEX MAINTENANCE — the sink-side twin
    // of dd21/dd23's daily pipeline: documents arrive in micro-batches
    // and `foreachBatch` MERGES each batch into a persisted
    // (fp → keeper, copies) parquet index — the compaction loop every
    // streaming-ingest materialized view runs (Delta/Iceberg MERGE INTO,
    // here spelled out on plain parquet). The index is a HASH-BUCKETED
    // LSM (streaming/FpIndex.scala, r14 rework of the r13 whole-index
    // read-merge-rewrite that cost O(index) I/O per batch): ingest
    // APPENDS a batch-sized delta per bucket (the index is never read on
    // the hot path), a bucket compacts base ∪ deltas only when its pile
    // is 4 deep, and reads merge on the fly (min/sum are associative) —
    // per-batch I/O scales with the batch, compaction amortizes to
    // O(index/threshold), and nothing is ever rewritten in place
    // (asserted bitwise by StreamingQueriesSpec).
    // A fingerprint seen in batch 1 and again in batch 3 must keep the
    // batch-1 keeper and sum its copies, so the final index equals the
    // batch derivation EXACTLY — the oracle computes it from documents in
    // one pass and compares count/copies/keeper-sum. foreachBatch runs on
    // the driver but every merge step is a distributed plan (read +
    // union + groupBy); state lives in storage, not memory, so the index
    // scales with the corpus, not the stream. processAllAvailable between
    // feed groups forces real cross-batch merges (stream14 discipline).
    QueryDef("stream15_incremental_index", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val idxRoot = TempDirs.create("graft-fp-index")
      val feed = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .collect() // bounded feed plumbing, not the operator
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val mem = MemoryStream[(Long, String)]
      val manifest = new graft.streaming.FpIndex.Manifest
      val q = mem.toDF().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          // raw (fp, keeper, copies) rows — NO per-batch aggregation:
          // FpIndex's merge-on-read folds duplicate fps (min/sum are
          // associative), so the whole ingest plan is one narrow bucket
          // shuffle + append, the cheapest possible hot path
          val delta = batch
            .select(md5(col("text").cast("binary")).as("fp"),
              col("doc_id").as("keeper"), lit(1L).as("copies"))
          graft.streaming.FpIndex.mergeBatch(s, idxRoot.toString, manifest, delta, batchId)
        }.start()
      try {
        feed.grouped(math.max(1, feed.size / 3 + 1)).foreach { g =>
          mem.addData(g); q.processAllAvailable()
        }
      } finally q.stop()
      graft.streaming.FpIndex.read(s, manifest)
        .agg(count(lit(1)).as("n_fps"), sum(col("copies")).as("n_docs"),
          sum(col("keeper")).as("keeper_sum"))
    }, Some("""
      WITH idx AS (
        SELECT md5(text) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS copies
        FROM documents GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_fps,
             CAST(SUM(copies) AS BIGINT) AS n_docs,
             CAST(SUM(keeper) AS BIGINT) AS keeper_sum
      FROM idx""")),

    // ---- sim18: STREAMING ANN SERVE — the production shape the ANN
    // family still lacked (VERDICT r13 #6): queries arrive as a STREAM
    // and are answered per micro-batch against sim17's persisted IVF-PQ
    // index (stream13's broadcast-static pattern over codebook/lists/
    // codes — the static side never changes mid-query, so no state store
    // or watermark is needed; the serve plan is a plain batch plan inside
    // foreachBatch). Each query row is independent, so micro-batch-wise
    // serving equals batch serving exactly — the oracle IS sim17's,
    // shared programmatically, which gates batch/stream serve
    // equivalence AND cross-engine parity in one. At 100 TB the index
    // relations are the big side and arrive partitioned; each query
    // micro-batch probes 2 coarse lists per query (candidates stay
    // list-sized, never corpus-sized) and broadcast-joins the per-query
    // ADC table — per-batch work scales with the batch × list size.
    QueryDef("sim18_ann_serve_stream", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val idxDir = TempDirs.create("graft-ann-sidx")
      Similarity.buildIvfPqIndex(s, d, idxDir.toString)
      val outDir = TempDirs.create("graft-ann-sout")
      val feed = Tables.load(s, d, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
        .collect() // bounded feed plumbing (10 query vectors), not the operator
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val mem = MemoryStream[(Long, Array[Float])]
      val q = mem.toDF().toDF("vec_id", "embedding")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          // idempotent per-batch sink (ADVICE r14): each micro-batch owns
          // its b<batchId> subdir and OVERWRITES it, so an at-least-once
          // re-delivery replaces rather than duplicates — the
          // partitioned-path twin of stream16's committed-set guard.
          Similarity.serveIvfPq(s, batch, idxDir.toString)
            .write.mode("overwrite").parquet(s"$outDir/b$batchId")
        }.start()
      try {
        // three micro-batch groups with a forced boundary between them,
        // so the serve really runs per-batch (stream14 discipline)
        feed.grouped(4).foreach { g => mem.addData(g); q.processAllAvailable() }
      } finally q.stop()
      // the batch dirs by name, not a `b*` glob: Spark's sink-metadata
      // probe stats a single path and logs a stack trace for a glob
      val batches = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("b")).map(_.getPath)
      s.read.parquet(batches.toSeq: _*).orderBy("qid", "rank")
    }, // the oracle IS sim17's, shared verbatim: stream serve must equal
       // batch serve must equal the DuckDB recompute
      Similarity.defs.find(_.name == "sim17_ann_index_serve").get.oracle),

    // ---- stream16: NEAR-DUP ADMISSION GATE — the write-path twin of
    // dd23's batch probe and the LSH sibling of stream15's exact-fp
    // index: documents arrive in SEQUENTIAL micro-batches, each batch's
    // LSH band keys (dd03's shingle→minhash→band pipeline, shared code)
    // are probed against a PERSISTED parquet band index of previously
    // ADMITTED documents, colliding docs are REJECTED, and the
    // survivors' bands are APPENDED to the index (append-only deltas,
    // stream15's LSM ingest discipline — the index is never rewritten).
    // Order matters and the oracle proves it: a doc rejected in batch k
    // contributes NO bands, so a later doc colliding only with the
    // rejected one is ADMITTED — the DuckDB oracle replays the same
    // 4-batch chain (hit_k checks batches < k minus their own rejects)
    // and must land on identical per-batch ledgers. Co-arriving
    // near-dups are both admitted by contract (the gate checks the
    // index, not the in-flight batch; within-batch dups are the next
    // tier's job — stream05). The arrival slice is bounded (doc_id <
    // 2000, dd03's convention: the gate checks SEQUENTIAL-ADMISSION
    // correctness; the per-batch plan — band equi-join against the
    // index, never all-pairs — is the 100 TB shape regardless, and the
    // index grows only with ADMITTED content, the whole point of an
    // admission gate at scale).
    QueryDef("stream16_neardup_admission", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val idxRoot = TempDirs.create("graft-band-idx")
      val feed = Tables.load(s, d, "documents")
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
        .collect() // bounded feed plumbing (≤2000 docs), not the operator
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val mem = MemoryStream[(Long, String)]
      val idxPaths = scala.collection.mutable.ArrayBuffer[String]()
      val ledger = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val committed = scala.collection.mutable.Set[Long]() // at-least-once replay guard (FpIndex discipline)
      val q = mem.toDF().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (committed.contains(batchId)) ()
          else {
          val bands = TextDedup.bandKeysOfSig(
            TextDedup.minhashSigRaw(batch.toDF())).persist()
          val hits = // banded equi-probe of the admitted index, never all-pairs
            if (idxPaths.isEmpty) bands.filter(lit(false)).select("doc_id")
            else bands.join(s.read.parquet(idxPaths.toSeq: _*), Seq("band", "key"), "left_semi")
              .select("doc_id").distinct()
          val nArrived = batch.count()
          val nRejected = hits.count()
          val dout = s"$idxRoot/b$batchId" // append-only delta, nothing rewritten
          bands.join(hits, Seq("doc_id"), "left_anti")
            .select("band", "key").distinct()
            .write.mode("overwrite").parquet(dout)
          // retry-safe: the delta overwrite is idempotent, the path
          // append dedupes, and the ledger row commits exactly once
          if (!idxPaths.contains(dout)) idxPaths += dout
          ledger += ((batchId, nArrived, nRejected))
          committed += batchId
          bands.unpersist()
          ()
          }
        }.start()
      try {
        (0 until 4).foreach { k => // batch k = doc_id % 4 == k, in order
          mem.addData(feed.filter(_._1 % 4 == k)); q.processAllAvailable()
        }
      } finally q.stop()
      ledger.toSeq.toDF("batch", "n_arrived", "n_rejected")
        .withColumn("n_admitted", col("n_arrived") - col("n_rejected"))
        .orderBy("batch")
    }, Some(s"""
      WITH arrivals AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
      ${TextDedup.minhashBandsSql("arrivals")},
      hit1 AS (SELECT DISTINCT b.doc_id FROM bands b
               WHERE b.doc_id % 4 = 1 AND EXISTS (
                 SELECT 1 FROM bands i
                 WHERE i.band = b.band AND i.key = b.key AND i.doc_id % 4 = 0)),
      hit2 AS (SELECT DISTINCT b.doc_id FROM bands b
               WHERE b.doc_id % 4 = 2 AND EXISTS (
                 SELECT 1 FROM bands i
                 WHERE i.band = b.band AND i.key = b.key AND
                   (i.doc_id % 4 = 0 OR (i.doc_id % 4 = 1 AND
                      i.doc_id NOT IN (SELECT doc_id FROM hit1))))),
      hit3 AS (SELECT DISTINCT b.doc_id FROM bands b
               WHERE b.doc_id % 4 = 3 AND EXISTS (
                 SELECT 1 FROM bands i
                 WHERE i.band = b.band AND i.key = b.key AND
                   (i.doc_id % 4 = 0 OR (i.doc_id % 4 = 1 AND
                      i.doc_id NOT IN (SELECT doc_id FROM hit1))
                    OR (i.doc_id % 4 = 2 AND
                      i.doc_id NOT IN (SELECT doc_id FROM hit2))))),
      rej AS (SELECT doc_id FROM hit1 UNION ALL SELECT doc_id FROM hit2
              UNION ALL SELECT doc_id FROM hit3)
      SELECT CAST(a.doc_id % 4 AS BIGINT) AS batch,
             COUNT(*) AS n_arrived,
             CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rejected,
             CAST(COUNT(*) - SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_admitted
      FROM arrivals a LEFT JOIN rej r ON a.doc_id = r.doc_id
      GROUP BY 1 ORDER BY 1""")),

    // ---- stream17: SLIDING-window rollup on a stream — q62's hop shape
    // (width 1 h, slide 15 min) in append mode: every event updates 4
    // overlapping windows of state, each window finalizes and DROPS its
    // state once the watermark passes its end (stream08's tumbling
    // discipline; the 4× state is the query's width/slide constant, not
    // data growth). Far-future sentinels advance the watermark past
    // every real window (timeouts fire against the PREVIOUS batch's
    // watermark, hence two), so the drained sink equals the batch q62
    // aggregation on the same slice and the oracle is q62's arithmetic
    // window-membership SQL.
    QueryDef("stream17_sliding_rollup", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") <= 50)
        .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
        .collect().toSeq // bounded feed plumbing (user_id <= 50 slice)
        .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
      val maxMs = ev.map(_._1.getTime).max
      val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
      val out = StreamingOps.slidingRollup(
        mem.toDF().toDF("ts", "event_type", "value"))
      drain(s, out, "append") { q =>
        mem.addData(ev); q.processAllAvailable()
        mem.addData((new java.sql.Timestamp(maxMs + 36000000L), "zz", 0.0))
        q.processAllAvailable()
        mem.addData((new java.sql.Timestamp(maxMs + 72000000L), "zz", 0.0))
      }
        .filter(col("event_type") =!= "zz")
        .orderBy("wstart_s", "event_type")
    }, Some("""
      SELECT CAST(FLOOR(epoch(ts)/900)*900 - k*900 AS BIGINT) AS wstart_s,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events, generate_series(0, 3) t(k)
      WHERE user_id <= 50
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- stream18: CONTINUOUS raw-file ingest — mm11's production twin:
    // media files LAND on storage over time and `readStream.format(
    // "binaryFile")` picks each new file up exactly once (FileStreamSource
    // tracks seen files in its own log — file-arrival exactly-once, the
    // ingest guarantee object-storage pipelines rely on), the id rides
    // the path, and mm10's container parser runs unchanged as a stateless
    // per-batch map. Complete-mode per-sample-rate rollup makes the
    // drained sink deterministic; the oracle is mm10's closed-form
    // derivation grouped the same way. Fixture files are written before
    // the stream starts (bounded, ≤200) — at scale they arrive forever.
    QueryDef("stream18_binaryfile_ingest", (s, d) => {
      import s.implicits._
      val ids = Tables.load(s, d, "documents")
        .filter(col("doc_id") % 10 === 0 && col("doc_id") < 2000)
        .select(col("doc_id").cast("long")).as[Long].collect().sorted
        // bounded fixture write (≤200 files), not the operator
      val dir = TempDirs.create("graft-binstream")
      ids.foreach { id =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir).resolve(s"$id.wav"),
          graft.ops.Multimodal.syntheticWav(id))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType)))
      val stream = s.readStream.schema(schema).format("binaryFile").load(dir)
      val parsed = graft.ops.Multimodal.parseWavBatch(
        stream.select(
            regexp_extract(col("path"), "(\\d+)\\.wav$", 1).cast("long").as("doc_id"),
            col("content"))
          .as[(Long, Array[Byte])]
          .map { case (id, bytes) => graft.ops.Multimodal.MediaRow(id, bytes) })
      val rolled = parsed.toDF()
        .groupBy(col("sample_rate"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_samples")).as("n_samples"),
          sum(col("total_energy")).as("total_energy"))
      drain(s, rolled, "complete") { _ => () }
        .orderBy("sample_rate")
    }, Some("""
      WITH params AS (
        SELECT doc_id,
               CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
               256 + doc_id % 256 AS n
        FROM documents WHERE doc_id % 10 = 0 AND doc_id < 2000),
      samples AS (
        SELECT doc_id, unnest(generate_series(0, n - 1)) AS k
        FROM params),
      energy AS (
        SELECT doc_id,
               SUM(((doc_id*31 + k*17) % 4096 - 2048)
                   * ((doc_id*31 + k*17) % 4096 - 2048)) AS e
        FROM samples GROUP BY 1)
      SELECT p.sample_rate, COUNT(*) AS n_files,
             CAST(SUM(p.n) AS BIGINT) AS n_samples,
             CAST(SUM(e.e) AS BIGINT) AS total_energy
      FROM params p JOIN energy e USING (doc_id)
      GROUP BY 1 ORDER BY 1""")),

    // ---- stream19: streaming FUNNEL — q65's ordered-sequence analysis as
    // per-user STATE that survives micro-batch boundaries
    // (StreamingOps.funnelStages): stage advances greedily on the first
    // qualifying event in event-time order, which equals q65's min-chain
    // exactly (first qualifying event in ascending time IS the min), so
    // the batch funnel SQL is the oracle for the streaming state machine.
    // The feed splits the slice into 3 time-ordered micro-batches (cutting
    // each user's history mid-funnel — the state hand-off IS the test);
    // final stages flush via event-time timeout set BEYOND the data
    // horizon (a watermark+1 timeout would flush-and-drop live state
    // between batches), triggered by the sentinel jump. Event times ride
    // MICROSECONDS end-to-end so the strict after-guards compare at the
    // oracle's native ts precision. Cumulative tiers (stage >= s) via a
    // bounded explode(sequence(1, stage)).
    QueryDef("stream19_funnel_stages", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") <= 100)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tms"), col("event_type").as("etype"))
        .as[StreamingOps.FunnelEvent]
        .collect().toSeq // bounded feed plumbing (user_id <= 100 slice)
      val ts = ev.map(_.tms)
      val (minT, maxT) = (ts.min, ts.max)
      val cut1 = minT + (maxT - minT) / 3
      val cut2 = minT + 2 * (maxT - minT) / 3
      val horizonMs = (maxT - minT) / 1000L + 60000L // past the data span
      val mem = MemoryStream[StreamingOps.FunnelEvent]
      val out = StreamingOps.funnelStages(mem.toDS(), horizonMs)
      val stages = drain(s, out.toDF(), "append") { q =>
        mem.addData(ev.filter(_.tms <= cut1)); q.processAllAvailable()
        mem.addData(ev.filter(e => e.tms > cut1 && e.tms <= cut2))
        q.processAllAvailable()
        mem.addData(ev.filter(_.tms > cut2)); q.processAllAvailable()
        // sentinel leaps the watermark past every horizon timeout; the
        // follow-up batch delivers the timed-out flushes
        mem.addData(StreamingOps.FunnelEvent(-1L, -1L,
          maxT + 3 * horizonMs * 1000L, "x"))
        q.processAllAvailable()
        mem.addData(StreamingOps.FunnelEvent(-1L, -2L,
          maxT + 4 * horizonMs * 1000L, "x"))
      }
      // left-join the exploded tiers onto a literal 1..3 stage frame
      // (ADVICE r14): the oracle's three UNION ALL branches always emit
      // rows 1..3 (COUNT 0 / SUM NULL for an unreached stage), so a
      // stage no user reached must still produce an explicit zero row —
      // count(user_id) over the null-extended join gives exactly that.
      val tiers = stages.filter(col("user_id") >= 0)
        .select(col("user_id"),
          explode(sequence(lit(1), col("stage"))).as("stage"))
      s.range(1, 4).select(col("id").cast("int").as("stage"))
        .join(tiers, Seq("stage"), "left")
        .groupBy(col("stage"))
        .agg(count(col("user_id")).as("n_users"), sum(col("user_id")).as("user_sum"))
        .orderBy("stage")
    }, Some("""
      WITH e AS (SELECT * FROM events WHERE user_id <= 100),
      v AS (
        SELECT user_id, MIN(ts) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      p AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
      SELECT 1 AS stage, COUNT(*) AS n_users,
             CAST(SUM(user_id) AS BIGINT) AS user_sum FROM v
      UNION ALL
      SELECT 2, COUNT(*), CAST(SUM(user_id) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, COUNT(*), CAST(SUM(user_id) AS BIGINT) FROM p
      ORDER BY stage""")),

    // ---- stream20: SUBSTRING-LEVEL ADMISSION GATE — stream16's
    // sequential admission discipline at dd25's granularity: incoming
    // crawl batches are rejected if they SHARE ANY 50-token run with the
    // already-admitted corpus (the streaming decontamination pass a
    // training pipeline runs at the ingest boundary — conservative
    // exact-substring containment, not whole-doc or band similarity).
    // Window fingerprints come from the native one-pass
    // `substring_run_fps` on the scan; the probe is a fp equi-join
    // against the persisted admitted-run index (never all-pairs);
    // survivors' distinct fps APPEND as per-batch deltas (LSM, index
    // never rewritten). Order matters exactly as in stream16 and the
    // oracle replays the same 4-batch chain: a run contributed only by a
    // REJECTED doc admits later docs that share it. Docs shorter than 50
    // tokens carry no windows — never rejected, admitted, contribute
    // nothing. At 100 TB the per-batch cost is batch-windows × index
    // probe (bucketed equi-join) and the index grows only with admitted
    // content.
    QueryDef("stream20_substring_admission", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val idxRoot = TempDirs.create("graft-run-idx")
      val feed = Tables.load(s, d, "documents")
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
        .collect() // bounded feed plumbing (≤2000 docs), not the operator
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val mem = MemoryStream[(Long, String)]
      val idxPaths = scala.collection.mutable.ArrayBuffer[String]()
      val ledger = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val committed = scala.collection.mutable.Set[Long]() // at-least-once replay guard
      val q = mem.toDF().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (committed.contains(batchId)) ()
          else {
          val wins = batch.toDF().select(col("doc_id"),
            posexplode(graft.functions.SubstringRunFps
              .substring_run_fps(col("text"), 50)).as(Seq("i", "fp")))
            .select("doc_id", "fp").persist()
          val hits = // fp equi-probe of the admitted-run index
            if (idxPaths.isEmpty) wins.filter(lit(false)).select("doc_id")
            else wins.join(s.read.parquet(idxPaths.toSeq: _*), Seq("fp"), "left_semi")
              .select("doc_id").distinct()
          val nArrived = batch.count()
          val nRejected = hits.count()
          val dout = s"$idxRoot/b$batchId" // append-only delta, nothing rewritten
          wins.join(hits, Seq("doc_id"), "left_anti")
            .select("fp").distinct()
            .write.mode("overwrite").parquet(dout)
          if (!idxPaths.contains(dout)) idxPaths += dout
          ledger += ((batchId, nArrived, nRejected))
          committed += batchId
          wins.unpersist()
          ()
          }
        }.start()
      try {
        (0 until 4).foreach { k => // batch k = doc_id % 4 == k, in order
          mem.addData(feed.filter(_._1 % 4 == k)); q.processAllAvailable()
        }
      } finally q.stop()
      ledger.toSeq.toDF("batch", "n_arrived", "n_rejected")
        .withColumn("n_admitted", col("n_arrived") - col("n_rejected"))
        .orderBy("batch")
    }, Some("""
      WITH arrivals AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
      d20 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM arrivals),
      pos AS (
        SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 50)) AS i
        FROM d20 WHERE len(ws) >= 50),
      fps AS (
        SELECT doc_id, md5(array_to_string(ws[i+1:i+50], ' ')) AS fp
        FROM pos),
      hit1 AS (SELECT DISTINCT f.doc_id FROM fps f
               WHERE f.doc_id % 4 = 1 AND EXISTS (
                 SELECT 1 FROM fps i
                 WHERE i.fp = f.fp AND i.doc_id % 4 = 0)),
      hit2 AS (SELECT DISTINCT f.doc_id FROM fps f
               WHERE f.doc_id % 4 = 2 AND EXISTS (
                 SELECT 1 FROM fps i
                 WHERE i.fp = f.fp AND
                   (i.doc_id % 4 = 0 OR (i.doc_id % 4 = 1 AND
                      i.doc_id NOT IN (SELECT doc_id FROM hit1))))),
      hit3 AS (SELECT DISTINCT f.doc_id FROM fps f
               WHERE f.doc_id % 4 = 3 AND EXISTS (
                 SELECT 1 FROM fps i
                 WHERE i.fp = f.fp AND
                   (i.doc_id % 4 = 0 OR (i.doc_id % 4 = 1 AND
                      i.doc_id NOT IN (SELECT doc_id FROM hit1))
                    OR (i.doc_id % 4 = 2 AND
                      i.doc_id NOT IN (SELECT doc_id FROM hit2))))),
      rej AS (SELECT doc_id FROM hit1 UNION ALL SELECT doc_id FROM hit2
              UNION ALL SELECT doc_id FROM hit3)
      SELECT CAST(a.doc_id % 4 AS BIGINT) AS batch,
             COUNT(*) AS n_arrived,
             CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rejected,
             CAST(COUNT(*) - SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_admitted
      FROM arrivals a LEFT JOIN rej r ON a.doc_id = r.doc_id
      GROUP BY 1 ORDER BY 1""")),

    // ---- stream21: streaming MEDIA-FINGERPRINT admission — stream16's
    // sequential-admission discipline at mm15's granularity, the media
    // leg of the streaming ingest-boundary family (text bands stream16,
    // substring runs stream20, audio fps HERE): each micro-batch of
    // arriving media docs is fingerprinted by the native `audio_fp`
    // codegen expression (byte-parse + frame energies + threshold bits,
    // one pass — the binary payload never fans out to frame rows), the
    // persisted admitted-fp index is equi-probed (left_semi on fp, never
    // all-pairs), exact-fp repeats of ANY earlier batch are rejected,
    // and survivors' distinct fps land as an append-only parquet delta
    // (the FpIndex LSM shape: per-batch I/O scales with the batch, not
    // the index). Semantics are order-dependent (a fingerprint admits
    // only its FIRST batch's arrivals; same-batch repeats are all
    // admitted and collapse to one delta fp) — unlike stream16's banded
    // near-dup chain this has an exact closed form (rejected iff an
    // earlier batch contains the same fp), which the oracle states
    // directly from mm15's generator-contract arithmetic.
    QueryDef("stream21_media_admission", (s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val idxRoot = TempDirs.create("graft-audiofp-idx")
      val feed = Tables.load(s, d, "documents")
        .filter(col("doc_id") % 10 === 5 && col("doc_id") < 2000)
        .select(col("doc_id").cast("long")).as[Long]
        .collect() // bounded feed plumbing (≤200 ids), not the operator
        .sorted.toSeq
      val mem = MemoryStream[Long]
      val idxPaths = scala.collection.mutable.ArrayBuffer[String]()
      val ledger = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
      val committed = scala.collection.mutable.Set[Long]() // at-least-once replay guard
      val q = mem.toDS()
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], batchId: Long) =>
          if (committed.contains(batchId)) ()
          else {
            // The oracle keys its ledger on (doc_id/10)%4 == batchId; if the
            // engine ever splits/replays/injects a micro-batch the ids shift
            // silently and the gate fails confusingly downstream (ADVICE
            // r16). Fail HERE, loudly, on the first misaligned id instead.
            val misaligned = batch.filter(id => (id / 10) % 4 != batchId).take(1)
            require(misaligned.isEmpty,
              s"stream21 batch/slice misalignment: doc_id ${misaligned.head} " +
                s"landed in batchId $batchId, expected ${(misaligned.headOption.getOrElse(0L) / 10) % 4}")
            val fps = batch
              .map(id => graft.ops.Multimodal.MediaRow(id,
                graft.ops.Multimodal.syntheticTrackPcm(id)))
              .toDF("doc_id", "payload")
              .select(col("doc_id"),
                graft.functions.AudioFp.audio_fp(col("payload"), 8, 32, 11200000L).as("fp"))
              .persist()
            val hits = // fp equi-probe of the admitted index, never all-pairs
              if (idxPaths.isEmpty) fps.filter(lit(false)).select("doc_id")
              else fps.join(s.read.parquet(idxPaths.toSeq: _*), Seq("fp"), "left_semi")
                .select("doc_id").distinct()
            val nArrived = batch.count()
            val nRejected = hits.count()
            val dout = s"$idxRoot/b$batchId" // append-only delta
            val delta = fps.join(hits, Seq("doc_id"), "left_anti")
              .select("fp").distinct()
            delta.write.mode("overwrite").parquet(dout)
            val nNewFps = s.read.parquet(dout).count()
            if (!idxPaths.contains(dout)) idxPaths += dout
            ledger += ((batchId, nArrived, nRejected, nNewFps))
            committed += batchId
            fps.unpersist()
            ()
          }
        }.start()
      try {
        // batch k = (doc_id/10) % 4 == k, in order — the slice is
        // doc_id ≡ 5 (mod 10), so doc_id % 4 would leave two batches
        // EMPTY (and an empty ledger row has no oracle twin); dividing
        // first spreads the slice across all four batches
        (0 until 4).foreach { k =>
          mem.addData(feed.filter(id => (id / 10) % 4 == k)); q.processAllAvailable()
        }
      } finally q.stop()
      ledger.toSeq.toDF("batch", "n_arrived", "n_rejected", "n_new_fps")
        .withColumn("n_admitted", col("n_arrived") - col("n_rejected"))
        .select("batch", "n_arrived", "n_rejected", "n_admitted", "n_new_fps")
        .orderBy("batch")
    }, Some("""
      WITH ids AS (
        SELECT doc_id FROM documents WHERE doc_id % 10 = 5 AND doc_id < 2000),
      samples AS (
        SELECT doc_id, k,
               ((doc_id % 7)*131 + k*29) % 4096 - 2048 + (doc_id % 3)*150 AS s
        FROM (SELECT doc_id, unnest(generate_series(0, 255)) AS k FROM ids)),
      fe AS (
        SELECT doc_id, k // 8 AS f, SUM(s*s) AS energy
        FROM samples GROUP BY 1, 2),
      fps AS (
        SELECT doc_id, (doc_id // 10) % 4 AS batch,
               SUM(CASE WHEN energy > 11200000 THEN 1::BIGINT << f ELSE 0 END) AS fp
        FROM fe GROUP BY 1, 2),
      firstb AS (SELECT fp, MIN(batch) AS b0 FROM fps GROUP BY 1)
      SELECT CAST(f.batch AS BIGINT) AS batch,
             COUNT(*) AS n_arrived,
             CAST(SUM(CASE WHEN f.batch > fb.b0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
             CAST(SUM(CASE WHEN f.batch = fb.b0 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
             CAST(COUNT(DISTINCT CASE WHEN f.batch = fb.b0 THEN f.fp END) AS BIGINT) AS n_new_fps
      FROM fps f JOIN firstb fb ON f.fp = fb.fp
      GROUP BY 1 ORDER BY 1"""))
  )
}
