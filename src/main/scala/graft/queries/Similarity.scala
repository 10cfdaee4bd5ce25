package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * - Brute-force cosine top-k: the correctness baseline; dot products are
  *   sequential folds over the vector (`zip_with` + `aggregate`), so both
  *   engines evaluate identical IEEE operation orders.
  * - Random-hyperplane LSH ANN: the scale path — integer-quantized
  *   projections (weights and inputs both integers) make bucket assignment
  *   exactly reproducible in any engine and any aggregation order; the
  *   candidate join is a bucket equi-join (shuffle on bucket id), never n².
  */
object Similarity {
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  /** cosine(a, b): native codegen Catalyst expression (graft.functions
    * .CosineSim) — same sequential left-to-right accumulation as the
    * DuckDB oracle, but a tight primitive loop inside WholeStageCodegen
    * instead of interpreted higher-order functions. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** Deterministic hyperplane weights: w(plane, dim) ∈ [-1000, 1000] from
    * md5 — reproducible in SQL as (('0x'||substr(md5(p||'_'||d),1,7))::BIGINT) % 2001 - 1000.
    * private[graft]: the streaming LSH (StreamingOps.lshCandidatesStream)
    * derives the same band keys per row. */
  private[graft] def planeWeight(plane: Int, dim: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes("UTF-8"))
    val hex = md.take(4).map("%02x".format(_)).mkString.take(7)
    java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
  }

  /** (vec_id, dim, xq) rows with xq = floor(x*1000): the integer-exact
    * quantization every order-independent similarity derivation builds on
    * (long sums are exact in any aggregation order; float sums are not). */
  private[queries] def flatQuantized(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "x")))
      .select(col("vec_id"), (col("dim0") + 1).as("dim"),
        floor(col("x").cast("double") * 1000).cast("long").as("xq"))

  /** Near-dup candidate pairs from a 4-band × 4-plane LSH over (vec_id,
    * embedding) rows: pairs agreeing exactly on >= 1 band key. Identical
    * vectors agree on every band, so exact duplicates are never missed.
    *
    * Band keys come from the native codegen `band_keys` expression
    * ([[graft.functions.BandKeys]]): one tight per-row loop, so the only
    * exchange in the candidate derivation is the bucket equi-join itself
    * (the round-2 version shuffled 64× exploded rows through two
    * aggregates first — VERDICT r2 "What's wrong #1"). */
  private[queries] def lshCandidatePairs(s: SparkSession, e: DataFrame): DataFrame = {
    val bands = e.select(col("vec_id"),
      posexplode(graft.functions.BandKeys.band_keys(col("embedding"), 16, 4))
        .as(Seq("band", "key")))
    val x = bands.as("x"); val y = bands.as("y")
    x.join(y, col("x.band") === col("y.band")
        && col("x.key") === col("y.key") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("ida"), col("y.vec_id").as("idb"))
      .distinct()
  }

  /** Persist the sim15/sim17 IVF-PQ index as three parquet relations under
    * `idxDir`: codebook (4×64 centroid components), lists (vid → coarse
    * cell), codes (vid × 8 PQ codes). Build-side half of the build/serve
    * split; shared by sim17 (batch serve) and sim18 (streaming serve). */
  private[queries] def buildIvfPqIndex(s: SparkSession, d: String, idxDir: String): Unit = {
    val sub = expr("CAST((dim - 1) div 8 AS INT)")
    val flat = flatQuantized(emb(s, d).filter(col("vec_id") < 300))
    val cb = flat.filter(col("vec_id") < 4)
      .select(col("vec_id").as("c"), col("dim"), col("xq").as("cq"))
    val dfull = flat.join(broadcast(cb), "dim")
      .groupBy(col("vec_id"), col("c"))
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c"))
    val lists = dfull.withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("vid"), col("c").as("cid"))
    val dsub = flat.join(broadcast(cb), "dim")
      .groupBy(col("vec_id"), sub.as("sub"), col("c"))
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
    val wEnc = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2"), col("c"))
    val codes = dsub.withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("vid"), col("sub"), col("c").as("code"))
    cb.write.mode("overwrite").parquet(s"$idxDir/codebook")
    lists.write.mode("overwrite").parquet(s"$idxDir/lists")
    codes.write.mode("overwrite").parquet(s"$idxDir/codes")
  }

  /** Serve a batch of query vectors (`qEmb`: vec_id, embedding) against
    * the persisted index: coarse-probe 2 lists via the broadcast
    * codebook, ADC over the persisted codes, top-3 per query — sim15's
    * serve math exactly, reading the index tables and NOTHING else. Each
    * query row is independent, so serving a stream micro-batch-wise
    * (sim18) equals serving the whole batch at once (sim17). */
  private[queries] def serveIvfPq(s: SparkSession, qEmb: DataFrame, idxDir: String): DataFrame = {
    val sub = expr("CAST((dim - 1) div 8 AS INT)")
    val cbP = broadcast(s.read.parquet(s"$idxDir/codebook"))
    val listsP = s.read.parquet(s"$idxDir/lists")
    val codesP = s.read.parquet(s"$idxDir/codes")
    val qflat = flatQuantized(qEmb)
    val qd2 = qflat.join(cbP, "dim")
      .groupBy(col("vec_id"), col("c"))
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
    val probes = qd2
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c"))))
      .filter(col("rn") <= 2)
      .select(col("vec_id").as("qid"), col("c").as("cid"))
    val table = qflat
      .select(col("vec_id").as("qid"), col("dim"), col("xq").as("qx"))
      .join(cbP, "dim")
      .groupBy(col("qid"), sub.as("sub"), col("c").as("code"))
      .agg(sum((col("qx") - col("cq")) * (col("qx") - col("cq"))).as("td2"))
    val cands = probes.join(listsP, "cid").filter(col("vid") =!= col("qid"))
      .select("qid", "vid")
    val scored = cands.join(codesP, "vid")
      .join(broadcast(table), Seq("qid", "sub", "code"))
      .groupBy(col("qid"), col("vid"))
      .agg(sum(col("td2")).as("adc"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vid"))
    scored.withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vid"), col("adc"), col("rank"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- sim01: brute-force cosine top-k (k=5, 10 query vectors) via the
    // bounded topk_agg aggregate (graft.functions.TopKAgg): map-side
    // partial aggregation reduces every scan partition to <= 5 pairs per
    // query BEFORE the exchange, so the shuffle carries 10x5 rows instead
    // of the full |queries| x |corpus| scored set, and nothing is sorted.
    // (The window row_number() formulation sorted all 6.4M scored rows at
    // sf10 — same result, one wasted sort + full-width exchange.)
    // Join shape (r14 rework): the query side folds to ONE array-of-structs
    // row (collect_list, bounded at 10) cross-joined broadcast into the
    // corpus scan, and all 10 cosines are computed per corpus row inside
    // one projection — the fan-out rows carry 24 bytes (qid, vid, cos),
    // not two 512-byte embeddings. The previous 10-row broadcast NLJ
    // materialized ~1 KB of joined row per scored pair; dropping that
    // copy measured 2.1x on the multi-file sf10 corpus (the recorded
    // same-session r14 A/B: 1.37 s -> 0.65 s, identical results;
    // BENCH_SCALING addendum 4) and parity on the single-file layout
    // where the 1-task scan binds.
    QueryDef("sim01_cosine_topk", (s, d) => {
      val e = emb(s, d)
      val qs = e.filter(col("vec_id") < 10)
        .agg(collect_list(struct(col("vec_id").as("qid"),
          col("embedding").as("qe"))).as("qs"))
      val scored = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
        .crossJoin(broadcast(qs))
        .select(col("vid"),
          explode(expr("transform(qs, s -> struct(s.qid as qid, " +
            "cosine_sim(s.qe, ve) as cos))")).as("sc"))
        .filter(col("sc.qid") =!= col("vid"))
        .select(col("sc.qid").as("qid"), col("vid"), col("sc.cos").as("cos"))
      val top = scored.groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.topk_agg(col("cos"), col("vid"), 5).as("top"))
      top.select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.id").as("vid"),
          floor(col("t.score") * 10000).cast("long").as("cos_x1e4"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy("qid", "rank")
    }, Some("""
      WITH scored AS (
        SELECT q.vec_id AS qid, v.vec_id AS vid,
               list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS cos
        FROM embeddings q JOIN embeddings v ON q.vec_id < 10 AND q.vec_id <> v.vec_id),
      ranked AS (
        SELECT qid, vid, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
        FROM scored)
      SELECT qid, vid, CAST(FLOOR(cos*10000) AS BIGINT) AS cos_x1e4, CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= 5 ORDER BY qid, rank""")),

    // ---- sim02: LSH-bucketed ANN — integer-exact bucket assignment,
    // candidates from same-bucket equi-join
    QueryDef("sim02_ann_lsh_buckets", (s, d) => {
      // 8 planes, one whole-signature bucket: band_keys with bandSize ==
      // nPlanes yields a single key — computed per row in codegen, no
      // explode/aggregate before the bucket join. The coalesce makes the
      // bucket provably non-null so the equi-join's inferred
      // isnotnull(bucket) constraint folds to true instead of being
      // pushed through the projection into the scan as a SECOND
      // band_keys evaluation per row (the PushdownAudit bug class);
      // band_keys never actually returns null, so the 0 arm is dead.
      val buckets = emb(s, d).select(col("vec_id"),
        coalesce(graft.functions.BandKeys.band_keys(col("embedding"), 8, 8)
          .getItem(0), lit(0L)).as("bucket"))
      val a = buckets.as("a"); val b = buckets.as("b")
      a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .filter(col("a.vec_id") < 10)
        .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vid"),
          col("a.bucket").as("bucket"))
        .orderBy("qid", "vid")
    }, Some("""
      WITH planes AS (
        SELECT p, dim,
               (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(dim AS VARCHAR)),1,7))::BIGINT) % 2001 - 1000 AS w
        FROM generate_series(0, 7) tp(p), generate_series(1, 64) td(dim)),
      flat AS (
        SELECT vec_id, dim, CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim)),
      proj AS (
        SELECT vec_id, p, CAST(SUM(xq*w) AS BIGINT) AS proj
        FROM flat JOIN planes USING (dim) GROUP BY vec_id, p),
      buckets AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id)
      SELECT a.vec_id AS qid, b.vec_id AS vid, a.bucket AS bucket
      FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE a.vec_id < 10 ORDER BY qid, vid""")),

    // ---- sim03: IVF-style ANN — fixed coarse quantizer (centroids =
    // vectors 0..7), every vector assigned to its nearest list, queries
    // probe the 2 nearest lists and score only those candidates. The
    // scale path: the scan per query is |2 lists|, not |all vectors|,
    // and the assignment is one broadcast join over the tiny codebook.
    QueryDef("sim03_ann_ivf", (s, d) => {
      val e = emb(s, d)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val assign = e.crossJoin(broadcast(cents))
        .withColumn("ccos", cosine(col("embedding"), col("ce")))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
      val rn = assign.withColumn("rn", row_number().over(w))
      val lists = rn.filter(col("rn") === 1).select(col("vec_id").as("vid"), col("cid"))
      val probes = rn.filter(col("rn") <= 2 && col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("cid"))
      val cands = probes.join(lists, "cid").filter(col("vid") =!= col("qid"))
        .select("qid", "vid")
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val v = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      val scored = cands.join(q, "qid").join(v, "vid")
        .withColumn("cos", cosine(col("qe"), col("ve")))
      val wq = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
      scored.withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vid"),
          floor(col("cos") * 10000).cast("long").as("cos_x1e4"), col("rank"))
        .orderBy("qid", "rank")
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
      assign AS (
        SELECT e.vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) DESC, cid) AS rn
        FROM embeddings e, cents c),
      lists AS (SELECT vec_id AS vid, cid FROM assign WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid FROM assign WHERE rn <= 2 AND vec_id < 10),
      cands AS (SELECT p.qid, l.vid FROM probes p JOIN lists l ON p.cid = l.cid
                WHERE l.vid <> p.qid),
      scored AS (
        SELECT qid, vid,
               list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS cos
        FROM cands JOIN embeddings q ON q.vec_id = qid
                   JOIN embeddings v ON v.vec_id = vid),
      ranked AS (SELECT qid, vid, cos,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
                 FROM scored)
      SELECT qid, vid, CAST(FLOOR(cos*10000) AS BIGINT) AS cos_x1e4,
             CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- sim04: IVF with a kmeans-refined codebook — 2 Lloyd iterations
    // over INTEGER-quantized vectors so the whole derivation is exact and
    // order-independent (long dot products; centroid update floors the
    // integer mean), making an iterative-ML codebook fully oracle-checkable
    // in SQL. No driver-side collect: each iteration is one distributed
    // assignment (argmax over broadcast codebook) + one aggregation; the
    // codebook DataFrame stays tiny (k x 64 rows) and is broadcast into
    // every join — the MLlib-KMeans shape, 100 TB-safe.
    QueryDef("sim04_ann_ivf_kmeans", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 8
      val flat = flatQuantized(emb(s, d))
      val n2 = flat.groupBy("vec_id").agg(sum(col("xq") * col("xq")).as("n2"))
      // integer cosine vs a codebook; exact longs in, one deterministic
      // double division out
      def assignAll(cents: DataFrame): DataFrame = {
        val cn2 = cents.groupBy("cid").agg(sum(col("cq") * col("cq")).as("cn2"))
        flat.join(broadcast(cents), "dim")
          .groupBy(col("vec_id"), col("cid"))
          .agg(sum(col("xq") * col("cq")).as("dot"))
          .join(broadcast(cn2), "cid").join(n2, "vec_id")
          .withColumn("cos", col("dot").cast("double") /
            (sqrt(col("n2").cast("double")) * sqrt(col("cn2").cast("double"))))
      }
      def argmax(scored: DataFrame, top: Int): DataFrame = {
        val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= top)
      }
      var cents = flat.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("dim"), col("xq").as("cq"))
      for (_ <- 1 to 2) {
        val assigned = argmax(assignAll(cents), 1).select("vec_id", "cid")
        cents = assigned.join(flat, "vec_id")
          .groupBy(col("cid"), col("dim"))
          .agg(floor(sum(col("xq")).cast("double") / count(lit(1))).cast("long").as("cq"))
      }
      val finalScored = assignAll(cents)
      val lists = argmax(finalScored, 1).select(col("vec_id").as("vid"), col("cid"))
      val probes = argmax(finalScored.filter(col("vec_id") < 10), 2)
        .select(col("vec_id").as("qid"), col("cid"))
      val cands = probes.join(lists, "cid").filter(col("vid") =!= col("qid"))
        .select("qid", "vid").distinct()
      val e = emb(s, d)
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val v = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      val scored = cands.join(q, "qid").join(v, "vid")
        .withColumn("cos", cosine(col("qe"), col("ve")))
      val wq = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
      scored.withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vid"),
          floor(col("cos") * 10000).cast("long").as("cos_x1e4"), col("rank"))
        .orderBy("qid", "rank")
    }, Some("""
      WITH flat AS (
        SELECT vec_id, dim, CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim)),
      n2 AS (SELECT vec_id, CAST(SUM(xq*xq) AS BIGINT) AS n2 FROM flat GROUP BY 1),
      c0 AS (SELECT vec_id AS cid, dim, xq AS cq FROM flat WHERE vec_id < 8),
      s0 AS (
        SELECT f.vec_id, c.cid,
               CAST(SUM(f.xq*c.cq) AS DOUBLE) /
                 (sqrt(CAST(n2.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS cos
        FROM flat f JOIN c0 c USING (dim)
        JOIN n2 ON n2.vec_id = f.vec_id
        JOIN (SELECT cid, CAST(SUM(cq*cq) AS BIGINT) AS cn2 FROM c0 GROUP BY 1) cn
          ON cn.cid = c.cid
        GROUP BY f.vec_id, c.cid, n2.n2, cn.cn2),
      a0 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid) AS rn FROM s0) WHERE rn = 1),
      c1 AS (SELECT a.cid, f.dim,
                    CAST(FLOOR(CAST(SUM(f.xq) AS DOUBLE)/COUNT(*)) AS BIGINT) AS cq
             FROM a0 a JOIN flat f USING (vec_id) GROUP BY 1, 2),
      s1 AS (
        SELECT f.vec_id, c.cid,
               CAST(SUM(f.xq*c.cq) AS DOUBLE) /
                 (sqrt(CAST(n2.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS cos
        FROM flat f JOIN c1 c USING (dim)
        JOIN n2 ON n2.vec_id = f.vec_id
        JOIN (SELECT cid, CAST(SUM(cq*cq) AS BIGINT) AS cn2 FROM c1 GROUP BY 1) cn
          ON cn.cid = c.cid
        GROUP BY f.vec_id, c.cid, n2.n2, cn.cn2),
      a1 AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid) AS rn FROM s1) WHERE rn = 1),
      c2 AS (SELECT a.cid, f.dim,
                    CAST(FLOOR(CAST(SUM(f.xq) AS DOUBLE)/COUNT(*)) AS BIGINT) AS cq
             FROM a1 a JOIN flat f USING (vec_id) GROUP BY 1, 2),
      s2 AS (
        SELECT f.vec_id, c.cid,
               CAST(SUM(f.xq*c.cq) AS DOUBLE) /
                 (sqrt(CAST(n2.n2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS cos
        FROM flat f JOIN c2 c USING (dim)
        JOIN n2 ON n2.vec_id = f.vec_id
        JOIN (SELECT cid, CAST(SUM(cq*cq) AS BIGINT) AS cn2 FROM c2 GROUP BY 1) cn
          ON cn.cid = c.cid
        GROUP BY f.vec_id, c.cid, n2.n2, cn.cn2),
      lists AS (SELECT vec_id AS vid, cid FROM (
                  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY cos DESC, cid) AS rn FROM s2) WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid FROM (
                   SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid) AS rn FROM s2
                   WHERE vec_id < 10) WHERE rn <= 2),
      cands AS (SELECT DISTINCT p.qid, l.vid FROM probes p JOIN lists l ON p.cid = l.cid
                WHERE l.vid <> p.qid),
      scored AS (
        SELECT qid, vid,
               list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS cos
        FROM cands JOIN embeddings q ON q.vec_id = qid
                   JOIN embeddings v ON v.vec_id = vid),
      ranked AS (SELECT qid, vid, cos,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
                 FROM scored)
      SELECT qid, vid, CAST(FLOOR(cos*10000) AS BIGINT) AS cos_x1e4,
             CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- sim05: int8 embedding quantization — per-vector min/max affine
    // codes (the 4x storage cut a 100 TB embedding store takes first) with
    // the max reconstruction error surfaced per vector, so the gate checks
    // the actual quantization arithmetic, not just row counts. All double
    // ops appear in the identical order in both engines.
    QueryDef("sim05_quantize_int8", (s, d) => {
      val flat = emb(s, d).filter(col("vec_id") < 100)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "xf")))
        .select(col("vec_id"), col("xf").cast("double").as("x"))
      val mm = flat.groupBy("vec_id")
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .filter(col("mx") > col("mn")) // constant vectors have no scale
      val q = flat.join(mm, "vec_id")
        .withColumn("scale", (col("mx") - col("mn")) / 255)
        .withColumn("code", least(floor((col("x") - col("mn")) / col("scale")), lit(255L)))
      q.withColumn("err", abs(col("x") - (col("mn") + col("code") * col("scale"))))
        .groupBy("vec_id")
        .agg(floor(max(col("err")) * 1000000).cast("long").as("maxerr_x1e6"))
        .orderBy("vec_id")
    }, Some("""
      WITH flat AS (
        SELECT vec_id, CAST(embedding[dim] AS DOUBLE) AS x
        FROM embeddings, generate_series(1, 64) t(dim) WHERE vec_id < 100),
      mm AS (
        SELECT vec_id, MIN(x) AS mn, MAX(x) AS mx FROM flat GROUP BY 1
        HAVING MAX(x) > MIN(x)),
      q AS (
        SELECT f.vec_id, x, mn, (mx-mn)/255 AS scale
        FROM flat f JOIN mm USING (vec_id)),
      c AS (
        SELECT vec_id, x, mn, scale,
               LEAST(FLOOR((x-mn)/scale), 255) AS code FROM q)
      SELECT vec_id,
             CAST(FLOOR(MAX(ABS(x - (mn + code*scale)))*1000000) AS BIGINT) AS maxerr_x1e6
      FROM c GROUP BY 1 ORDER BY vec_id""")),

    // ---- dd05: embedding-cosine near-duplicate pairs at scale — candidate
    // pairs from a 4-band × 4-plane LSH bucket join (16 hyperplanes), exact
    // cosine only on candidates. The all-pairs n² never materializes; the
    // oracle SQL builds the SAME banded candidates (integer-exact), so the
    // gate verifies the banding logic in both engines. Recall vs the exact
    // baseline (dd06) is measured in OpsSpec — near-identical vectors agree
    // Threshold 0.40 / slice 500: the synthetic embeddings are
    // near-orthogonal (corpus max cosine 0.51 at sf0.01), so the original
    // 0.9 threshold returned ZERO rows and the oracle proved only schema
    // (VERDICT r4 finding 1) — 0.40 yields 59 exact pairs (dd06) of which
    // 35 survive the banding here, a real recall measurement.
    QueryDef("dd05_embed_neardup", (s, d) => {
      val e = emb(s, d).filter(col("vec_id") < 500)
      val cand = lshCandidatePairs(s, e)
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
      cand.join(a, "ida").join(b, "idb")
        .withColumn("cos", cosine(col("ea"), col("eb")))
        .filter(col("cos") >= 0.4)
        .select(col("ida"), col("idb"), floor(col("cos") * 10000).cast("long").as("cos_x1e4"))
        .orderBy("ida", "idb")
    }, Some("""
      WITH planes AS (
        SELECT p, dim,
               (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(dim AS VARCHAR)),1,7))::BIGINT) % 2001 - 1000 AS w
        FROM generate_series(0, 15) tp(p), generate_series(1, 64) td(dim)),
      flat AS (
        SELECT vec_id, dim, CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim) WHERE vec_id < 500),
      proj AS (
        SELECT vec_id, p, CAST(SUM(xq*w) AS BIGINT) AS proj
        FROM flat JOIN planes USING (dim) GROUP BY vec_id, p),
      bands AS (
        SELECT vec_id, CAST(FLOOR(p/4.0) AS INTEGER) AS band,
               CAST(SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END) AS BIGINT) AS key
        FROM proj GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)
      SELECT ida, idb,
             CAST(FLOOR(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])*10000) AS BIGINT) AS cos_x1e4
      FROM cand JOIN embeddings a ON a.vec_id = ida JOIN embeddings b ON b.vec_id = idb
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
      ORDER BY ida, idb""")),

    // ---- dd06: the exact all-pairs baseline dd05's recall is measured
    // against — deliberately BOUNDED (vec_id < 500, ~125k pairs): this is
    // the oracle-checked ground truth, not a scale path. At 100 TB only
    // the LSH version (dd05) runs; this one exists so recall is a measured
    // number instead of a claim.
    QueryDef("dd06_neardup_exact200", (s, d) => {
      val e = emb(s, d).filter(col("vec_id") < 500)
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
      a.join(b, col("ida") < col("idb"))
        .withColumn("cos", cosine(col("ea"), col("eb")))
        .filter(col("cos") >= 0.4)
        .select(col("ida"), col("idb"), floor(col("cos") * 10000).cast("long").as("cos_x1e4"))
        .orderBy("ida", "idb")
    }, Some("""
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             CAST(FLOOR(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])*10000) AS BIGINT) AS cos_x1e4
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 500 AND b.vec_id < 500
        AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
      ORDER BY ida, idb""")),

    // ---- sim06: semantic dedup — the embedding-space analogue of dd09:
    // assign every vector to its nearest centroid (broadcast codebook,
    // one pass, no shuffle before the per-cluster window) and keep ONE
    // representative per cluster (highest cosine to the centroid). The
    // SemDeDup recipe at 100 TB: |codebook| ≪ |corpus| broadcasts, the
    // per-cluster rank shuffles once on cluster id. Ties broken by id in
    // both engines, so the keeper is deterministic.
    QueryDef("sim06_semantic_dedup", (s, d) => {
      val e = emb(s, d)
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val scored = e.crossJoin(broadcast(cents))
        .withColumn("cos", cosine(col("embedding"), col("ce")))
      val wv = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
      val assign = scored.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 1).select(col("vec_id"), col("cid"), col("cos"))
      val counts = assign.groupBy("cid").agg(count(lit(1)).as("n_members"))
      val wc = Window.partitionBy(col("cid")).orderBy(col("cos").desc, col("vec_id"))
      assign.withColumn("kr", row_number().over(wc)).filter(col("kr") === 1)
        .select(col("cid"), col("vec_id").as("keeper"),
          floor(col("cos") * 10000).cast("long").as("keeper_cos_x1e4"))
        .join(counts, "cid")
        .select(col("cid"), col("keeper"), col("keeper_cos_x1e4"), col("n_members"))
        .orderBy("cid")
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 4),
      scored AS (
        SELECT e.vec_id, c.cid,
               list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) AS cos
        FROM embeddings e, cents c),
      assign AS (SELECT vec_id, cid, cos FROM (
                   SELECT vec_id, cid, cos, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid) AS rn FROM scored) WHERE rn = 1),
      counts AS (SELECT cid, COUNT(*) AS n_members FROM assign GROUP BY 1),
      keepers AS (SELECT cid, vec_id AS keeper,
                         CAST(FLOOR(cos*10000) AS BIGINT) AS keeper_cos_x1e4
                  FROM (SELECT cid, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY cid
                          ORDER BY cos DESC, vec_id) AS kr FROM assign) WHERE kr = 1)
      SELECT k.cid, keeper, keeper_cos_x1e4, n_members
      FROM keepers k JOIN counts USING (cid) ORDER BY cid""")),

    // ---- sim07: brute-force cosine top-k through the CUSTOM PHYSICAL
    // OPERATOR (graft.plans.TopKPerGroup — logical node + injected planner
    // strategy + partial/final bounded-heap SparkPlan pair). Same result
    // contract as sim01, which rides the topk_agg aggregate: this is the
    // whole-operator tier of the §4.2 ladder, so the gate proves BOTH
    // custom tiers compute the same truth. The exchange carries ≤ k rows
    // per (group, partition) and no sort runs anywhere — plan shape
    // (PartialTopKPerGroup → Exchange → TopKPerGroup) locked in
    // PlanShapeSpec.
    QueryDef("sim07_topk_operator", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val v = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      // Rank on the INTEGER-quantized score (floor(cos*1e4) desc, vid) on
      // both sides, so top-5 membership at the rank-5 boundary is integer-
      // exact rather than resting on raw-double agreement (ADVICE r7; the
      // banding queries' selection pattern).
      val scored = q.join(v, col("qid") =!= col("vid"))
        .withColumn("cos_x1e4",
          floor(cosine(col("qe"), col("ve")) * 10000).cast("long"))
        .select(col("qid"), col("vid"), col("cos_x1e4"))
      graft.plans.TopKPerGroup.topKPerGroup(scored,
          groups = Seq(col("qid")),
          order = Seq(col("cos_x1e4").desc, col("vid").asc), k = 5)
        .orderBy(col("qid"), col("cos_x1e4").desc, col("vid"))
    }, Some("""
      WITH scored AS (
        SELECT q.vec_id AS qid, v.vec_id AS vid,
               CAST(FLOOR(list_cosine_similarity(q.embedding::DOUBLE[],
                                                 v.embedding::DOUBLE[])*10000) AS BIGINT)
                 AS cos_x1e4
        FROM embeddings q JOIN embeddings v ON q.vec_id < 10 AND q.vec_id <> v.vec_id),
      ranked AS (
        SELECT qid, vid, cos_x1e4,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_x1e4 DESC, vid) AS rank
        FROM scored)
      SELECT qid, vid, cos_x1e4
      FROM ranked WHERE rank <= 5 ORDER BY qid, cos_x1e4 DESC, vid""")),

    // ---- sim08: ANN recall@5 evaluation — the quality gate every
    // approximate index needs before it replaces the exact path: per probe
    // query, |IVF-2probe top-5 ∩ exact top-5| / 5. Both rankings use the
    // integer-quantized score (floor(cos*1e4) desc, vid) so set membership
    // at the rank-5 boundary is integer-exact on both engines (sim07
    // discipline). Both top-5s come from the bounded topk_agg aggregate —
    // map-side partials keep every exchange at ≤ 5 rows per (query,
    // partition); the recall join is 50 rows against 50 rows. At 100 TB
    // the exact side is the only full-corpus pass, and it's exactly the
    // brute-force scan you'd run anyway to certify an index build.
    QueryDef("sim08_ann_recall", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val v = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      // exact top-5 (quantized longs are exactly representable doubles,
      // so topk_agg's double compare is integer-exact)
      val scored = q.join(v, col("qid") =!= col("vid"))
        .withColumn("sq", floor(cosine(col("qe"), col("ve")) * 10000).cast("double"))
      def top5(df: DataFrame): DataFrame = df
        .groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.topk_agg(col("sq"), col("vid"), 5).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("vid"))
      val exact5 = top5(scored)
      // IVF 2-probe candidates (sim03's derivation: 8 centroids, nearest-
      // centroid inverted lists, 2 probed lists per query)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val assign = e.crossJoin(broadcast(cents))
        .withColumn("ccos", cosine(col("embedding"), col("ce")))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
      val rn = assign.withColumn("rn", row_number().over(w))
      val lists = rn.filter(col("rn") === 1).select(col("vec_id").as("vid"), col("cid"))
      val probes = rn.filter(col("rn") <= 2 && col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("cid"))
      val cands = probes.join(lists, "cid").filter(col("vid") =!= col("qid"))
        .select("qid", "vid")
      val approx5 = top5(scored.join(cands, Seq("qid", "vid"), "left_semi"))
      val common = exact5.join(approx5, Seq("qid", "vid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_common"))
      exact5.select("qid").distinct()
        .join(common, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_common"), lit(0L)).as("n_common"),
          (coalesce(col("n_common"), lit(0L)) * 2000).as("recall_x1e4"))
        .orderBy("qid")
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
      assign AS (
        SELECT e.vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) DESC, cid) AS rn
        FROM embeddings e, cents c),
      lists AS (SELECT vec_id AS vid, cid FROM assign WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid FROM assign WHERE rn <= 2 AND vec_id < 10),
      cands AS (SELECT p.qid, l.vid FROM probes p JOIN lists l ON p.cid = l.cid
                WHERE l.vid <> p.qid),
      scored AS (
        SELECT q.vec_id AS qid, v.vec_id AS vid,
               CAST(FLOOR(list_cosine_similarity(q.embedding::DOUBLE[],
                                                 v.embedding::DOUBLE[])*10000) AS BIGINT) AS sq
        FROM embeddings q JOIN embeddings v ON q.vec_id < 10 AND q.vec_id <> v.vec_id),
      exact5 AS (SELECT qid, vid FROM (
        SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sq DESC, vid) AS rn
        FROM scored) WHERE rn <= 5),
      approx5 AS (SELECT qid, vid FROM (
        SELECT s.qid, s.vid,
               ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.sq DESC, s.vid) AS rn
        FROM scored s JOIN cands c ON s.qid = c.qid AND s.vid = c.vid) WHERE rn <= 5)
      SELECT e.qid AS qid, COUNT(a.vid) AS n_common,
             CAST(COUNT(a.vid) * 2000 AS BIGINT) AS recall_x1e4
      FROM exact5 e LEFT JOIN approx5 a ON e.qid = a.qid AND e.vid = a.vid
      GROUP BY e.qid ORDER BY e.qid""")),

    // ---- sim09: product-quantization encode — the other standard ANN
    // compression next to sim05's scalar int8: the 64-dim vector splits
    // into 8 subvectors of 8 dims, each assigned to its nearest codeword
    // in a per-subspace codebook (here the fixed first-4-vectors codebook,
    // sim03's convention), so a vector stores as 8 small codes. All in
    // integer space: quantized coordinates, exact long squared distances,
    // ties to the lowest code — fully oracle-checkable. Codebook (4×64
    // rows) broadcasts; per-vector work is one groupBy + one bounded
    // window per subspace, no cross-vector joins anywhere — encoding
    // stays embarrassingly parallel at 100 TB.
    QueryDef("sim09_pq_encode", (s, d) => {
      val flat = flatQuantized(emb(s, d).filter(col("vec_id") < 300))
      val cb = flat.filter(col("vec_id") < 4)
        .select(col("vec_id").as("c"), col("dim"), col("xq").as("cq"))
      val dist = flat.join(broadcast(cb), "dim")
        .groupBy(col("vec_id"), expr("CAST((dim - 1) div 8 AS INT)").as("sub"), col("c"))
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
      val w = Window.partitionBy(col("vec_id"), col("sub"))
        .orderBy(col("d2"), col("c"))
      dist.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("c").cast("int").as("code"), col("d2"))
        .orderBy("vec_id", "sub")
    }, Some("""
      WITH flat AS (
        SELECT vec_id, dim,
               CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim) WHERE vec_id < 300),
      cb AS (SELECT vec_id AS c, dim, xq AS cq FROM flat WHERE vec_id < 4),
      dist AS (
        SELECT f.vec_id, CAST((f.dim - 1) // 8 AS INTEGER) AS sub, cb.c,
               CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS d2
        FROM flat f JOIN cb ON cb.dim = f.dim
        GROUP BY 1, 2, 3),
      ranked AS (
        SELECT vec_id, sub, c, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
        FROM dist)
      SELECT vec_id, sub, CAST(c AS INTEGER) AS code,
             CAST(d2 AS BIGINT) AS d2
      FROM ranked WHERE rn = 1 ORDER BY vec_id, sub""")),

    // ---- sim10: PQ asymmetric-distance search (ADC) over sim09's codes —
    // how a PQ index actually answers queries: per query, one tiny
    // (8 sub × 4 codeword) distance table against the UNQUANTIZED query
    // subvectors; each database vector scores as the sum of 8 table
    // lookups keyed by its stored codes, never touching the original
    // vectors. Top-3 per query on the exact long ADC score (ties → vid).
    // The table (≤32 rows/query) broadcasts; the scoring join is
    // codes ⨝ table on (sub, code) — at 100 TB the codes relation is the
    // only big operand and it's 8 small ints per vector, the whole point
    // of PQ.
    QueryDef("sim10_pq_adc", (s, d) => {
      val flat = flatQuantized(emb(s, d).filter(col("vec_id") < 300))
      val sub = expr("CAST((dim - 1) div 8 AS INT)")
      val cb = flat.filter(col("vec_id") < 4)
        .select(col("vec_id").as("c"), col("dim"), col("xq").as("cq"))
      // codes: sim09's encode (nearest codeword per subvector)
      val dist = flat.join(broadcast(cb), "dim")
        .groupBy(col("vec_id"), sub.as("sub"), col("c"))
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
      val wEnc = Window.partitionBy(col("vec_id"), col("sub"))
        .orderBy(col("d2"), col("c"))
      val codes = dist.withColumn("rn", row_number().over(wEnc))
        .filter(col("rn") === 1)
        .select(col("vec_id").as("vid"), col("sub"), col("c").as("code"))
      // per-query distance table: query subvector vs every codeword
      val qflat = flat.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("dim"), col("xq").as("qx"))
      val table = qflat.join(broadcast(cb), "dim")
        .groupBy(col("qid"), sub.as("sub"), col("c").as("code"))
        .agg(sum((col("qx") - col("cq")) * (col("qx") - col("cq"))).as("td2"))
      // ADC score: 8 table lookups per (query, vector)
      val scored = codes.join(broadcast(table), Seq("sub", "code"))
        .filter(col("vid") =!= col("qid"))
        .groupBy(col("qid"), col("vid"))
        .agg(sum(col("td2")).as("adc"))
      val wq = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vid"))
      scored.withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vid"), col("adc"), col("rank"))
        .orderBy("qid", "rank")
    }, Some("""
      WITH flat AS (
        SELECT vec_id, dim,
               CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim) WHERE vec_id < 300),
      cb AS (SELECT vec_id AS c, dim, xq AS cq FROM flat WHERE vec_id < 4),
      dist AS (
        SELECT f.vec_id, CAST((f.dim - 1) // 8 AS INTEGER) AS sub, cb.c,
               CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS d2
        FROM flat f JOIN cb ON cb.dim = f.dim
        GROUP BY 1, 2, 3),
      codes AS (
        SELECT vec_id AS vid, sub, c AS code FROM (
          SELECT vec_id, sub, c, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
          FROM dist) WHERE rn = 1),
      tbl AS (
        SELECT f.vec_id AS qid, CAST((f.dim - 1) // 8 AS INTEGER) AS sub,
               cb.c AS code, CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS td2
        FROM flat f JOIN cb ON cb.dim = f.dim
        WHERE f.vec_id < 10 GROUP BY 1, 2, 3),
      scored AS (
        SELECT t.qid, codes.vid, CAST(SUM(t.td2) AS BIGINT) AS adc
        FROM codes JOIN tbl t ON t.sub = codes.sub AND t.code = codes.code
        WHERE codes.vid <> t.qid
        GROUP BY 1, 2),
      ranked AS (
        SELECT qid, vid, adc,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vid) AS rank
        FROM scored)
      SELECT qid, vid, CAST(adc AS BIGINT) AS adc, CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- sim11: MATRYOSHKA (truncated-dimension) retrieval recall — the
    // third standard ANN compression next to int8 (sim05) and PQ (sim09):
    // MRL-style embeddings are searched on their first-k prefix (here
    // 16 of 64 dims — 4× less bandwidth and compute per comparison), and
    // this measures what that costs: per query, |prefix-cosine top-5 ∩
    // full-cosine top-5| / 5. Same integer-quantized determinism and
    // bounded topk_agg exchange discipline as sim08. The whole pair scan
    // runs ONCE: the fused `cosine_sim_pair` expression computes the full
    // and prefix-16 scores in a single vector traversal (the prefix
    // accumulators are a mid-loop snapshot — functions/CosineSimPair),
    // and one ObjectHashAggregate keeps BOTH bounded top-5 buffers per
    // query, so the candidate join, the scan, and the vector math all
    // happen exactly once — at 100 TB the pair scan is the whole cost and
    // this halves it vs scoring the two rankings in separate passes.
    QueryDef("sim11_matryoshka_recall", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val v = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      val scored = q.join(v, col("qid") =!= col("vid"))
        .select(col("qid"), col("vid"),
          graft.functions.CosineSimPair.cosine_sim_pair(col("qe"), col("ve"), 16).as("cs"))
        .select(col("qid"), col("vid"),
          floor(col("cs.full") * 10000).cast("double").as("sq"),
          floor(col("cs.prefix") * 10000).cast("double").as("s16"))
      scored.groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.topk_agg(col("sq"), col("vid"), 5).as("tf"),
          graft.functions.TopKAgg.topk_agg(col("s16"), col("vid"), 5).as("tp"))
        .select(col("qid"),
          size(array_intersect(
            transform(col("tf"), t => t.getField("id")),
            transform(col("tp"), t => t.getField("id")))).cast("long").as("n_common"))
        .select(col("qid"), col("n_common"),
          (col("n_common") * 2000).as("recall_x1e4"))
        .orderBy("qid")
    }, Some("""
      WITH scored AS (
        SELECT q.vec_id AS qid, v.vec_id AS vid,
               CAST(FLOOR(list_cosine_similarity(q.embedding::DOUBLE[],
                                                 v.embedding::DOUBLE[])*10000) AS BIGINT) AS sq,
               CAST(FLOOR(list_cosine_similarity((q.embedding[1:16])::DOUBLE[],
                                                 (v.embedding[1:16])::DOUBLE[])*10000) AS BIGINT) AS s16
        FROM embeddings q JOIN embeddings v ON q.vec_id < 10 AND q.vec_id <> v.vec_id),
      exact5 AS (SELECT qid, vid FROM (
        SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sq DESC, vid) AS rn
        FROM scored) WHERE rn <= 5),
      prefix5 AS (SELECT qid, vid FROM (
        SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s16 DESC, vid) AS rn
        FROM scored) WHERE rn <= 5)
      SELECT e.qid AS qid, COUNT(p.vid) AS n_common,
             CAST(COUNT(p.vid) * 2000 AS BIGINT) AS recall_x1e4
      FROM exact5 e LEFT JOIN prefix5 p ON e.qid = p.qid AND e.vid = p.vid
      GROUP BY e.qid ORDER BY e.qid""")),

    // ---- sim12: HYBRID (filtered) search — the RAG retrieval shape: a
    // metadata predicate (here lang='en', the source/ACL/recency filter of
    // a real index) prunes the corpus FIRST, then cosine top-3 runs only
    // on survivors. The order matters at 100 TB: the predicate is a
    // pushdown-able scan filter on the (cheap) metadata table joined to
    // vectors by id, so the vector math — the expensive part — touches
    // only the filtered sliver; post-filtering an unfiltered top-k instead
    // UNDER-RETURNS when the filter is selective. Same bounded-query-side
    // scoring and integer quantization as sim01; top-3 via bounded
    // topk_agg exchanges.
    QueryDef("sim12_hybrid_search", (s, d) => {
      val keep = Tables.load(s, d, "documents")
        .filter(col("lang") === "en").select(col("doc_id"))
      val e = emb(s, d)
      val cand = e.join(keep, e("vec_id") === keep("doc_id"), "left_semi")
        .select(col("vec_id").as("vid"), col("embedding").as("ve"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = q.join(cand, col("qid") =!= col("vid"))
        .withColumn("sq", floor(cosine(col("qe"), col("ve")) * 10000).cast("double"))
      scored.groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.topk_agg(col("sq"), col("vid"), 3).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("vid"), col("t.score").cast("long").as("cos_x1e4"))
        .orderBy(col("qid"), col("cos_x1e4").desc, col("vid"))
    }, Some("""
      WITH keep AS (SELECT doc_id FROM documents WHERE lang = 'en'),
      scored AS (
        SELECT q.vec_id AS qid, v.vec_id AS vid,
               CAST(FLOOR(list_cosine_similarity(q.embedding::DOUBLE[],
                                                 v.embedding::DOUBLE[])*10000) AS BIGINT)
                 AS cos_x1e4
        FROM embeddings q
        JOIN embeddings v ON q.vec_id < 10 AND q.vec_id <> v.vec_id
        JOIN keep k ON v.vec_id = k.doc_id),
      ranked AS (
        SELECT qid, vid, cos_x1e4,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_x1e4 DESC, vid) AS rank
        FROM scored)
      SELECT qid, vid, cos_x1e4
      FROM ranked WHERE rank <= 3 ORDER BY qid, cos_x1e4 DESC, vid""")),

    // ---- sim13: TWO-STAGE retrieval (PQ shortlist → exact re-rank) — how
    // a production ANN index actually serves: stage 1 scores every vector
    // by cheap ADC lookups (sim10's 8 table lookups per vector, vectors
    // untouched) and keeps a top-10 shortlist per query via the bounded
    // topk_agg reducer; stage 2 re-ranks ONLY the shortlist with the exact
    // integer L2 against the full quantized vectors and returns top-3.
    // The scale shape is the whole point: at 100 TB stage 1 touches 8
    // small ints per vector with a broadcast distance table, and the
    // expensive exact math runs on 10 rows per query — the recall of
    // exact search at near-ADC cost. All-integer scores keep it
    // hash-exact against the oracle.
    QueryDef("sim13_pq_rerank", (s, d) => {
      val all = flatQuantized(emb(s, d).filter(col("vec_id") < 300))
      val sub = expr("CAST((dim - 1) div 8 AS INT)")
      val cb = all.filter(col("vec_id") < 4)
        .select(col("vec_id").as("c"), col("dim"), col("xq").as("cq"))
      // stage 0: sim09's encode (nearest codeword per subvector)
      val dist = all.join(broadcast(cb), "dim")
        .groupBy(col("vec_id"), sub.as("sub"), col("c"))
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
      val wEnc = Window.partitionBy(col("vec_id"), col("sub"))
        .orderBy(col("d2"), col("c"))
      val codes = dist.withColumn("rn", row_number().over(wEnc))
        .filter(col("rn") === 1)
        .select(col("vec_id").as("vid"), col("sub"), col("c").as("code"))
      val qflat = all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("dim"), col("xq").as("qx"))
      val table = qflat.join(broadcast(cb), "dim")
        .groupBy(col("qid"), sub.as("sub"), col("c").as("code"))
        .agg(sum((col("qx") - col("cq")) * (col("qx") - col("cq"))).as("td2"))
      // stage 1: ADC score + bounded top-10 shortlist per query
      val adc = codes.join(broadcast(table), Seq("sub", "code"))
        .filter(col("vid") =!= col("qid"))
        .groupBy(col("qid"), col("vid"))
        .agg(sum(col("td2")).as("adc"))
      val shortlist = adc.groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.topk_agg(
          negate(col("adc").cast("double")), col("vid"), 10).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("vid"))
      // stage 2: exact integer L2 over the full vectors, shortlist only
      val vflat = all.select(col("vec_id").as("vid"), col("dim"), col("xq").as("vx"))
      val rer = shortlist
        .join(vflat, "vid")
        .join(qflat, Seq("qid", "dim"))
        .groupBy(col("qid"), col("vid"))
        .agg(sum((col("vx") - col("qx")) * (col("vx") - col("qx"))).as("d2"))
      val wq = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vid"))
      rer.withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vid"), col("d2"), col("rank"))
        .orderBy("qid", "rank")
    }, Some("""
      WITH flat AS (
        SELECT vec_id, dim,
               CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim) WHERE vec_id < 300),
      cb AS (SELECT vec_id AS c, dim, xq AS cq FROM flat WHERE vec_id < 4),
      dist AS (
        SELECT f.vec_id, CAST((f.dim - 1) // 8 AS INTEGER) AS sub, cb.c,
               CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS d2
        FROM flat f JOIN cb ON cb.dim = f.dim
        GROUP BY 1, 2, 3),
      codes AS (
        SELECT vec_id AS vid, sub, c AS code FROM (
          SELECT vec_id, sub, c, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
          FROM dist) WHERE rn = 1),
      tbl AS (
        SELECT f.vec_id AS qid, CAST((f.dim - 1) // 8 AS INTEGER) AS sub,
               cb.c AS code, CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS td2
        FROM flat f JOIN cb ON cb.dim = f.dim
        WHERE f.vec_id < 10 GROUP BY 1, 2, 3),
      scored AS (
        SELECT t.qid, codes.vid, CAST(SUM(t.td2) AS BIGINT) AS adc
        FROM codes JOIN tbl t ON t.sub = codes.sub AND t.code = codes.code
        WHERE codes.vid <> t.qid
        GROUP BY 1, 2),
      short AS (
        SELECT qid, vid FROM (
          SELECT qid, vid,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vid) AS rn
          FROM scored) WHERE rn <= 10),
      rerank AS (
        SELECT s.qid, s.vid,
               CAST(SUM((v.xq - q.xq) * (v.xq - q.xq)) AS BIGINT) AS d2
        FROM short s
        JOIN flat v ON v.vec_id = s.vid
        JOIN flat q ON q.vec_id = s.qid AND q.dim = v.dim
        GROUP BY 1, 2),
      ranked AS (
        SELECT qid, vid, d2,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vid) AS rank
        FROM rerank)
      SELECT qid, vid, CAST(d2 AS BIGINT) AS d2, CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- sim14: kNN-GRAPH construction — the batch neighbor-graph build
    // behind SemDeDup/clustering/agglomerative dedup: EVERY vector gets
    // its top-3 neighbors (cos DESC, id ASC), not just a bounded query
    // set (sim01) and not a threshold pair list (dd05). Candidates come
    // from the same 4-band LSH bucket join as dd05 (symmetrized), so the
    // n² pair space never materializes, and the per-vector top-3 rides
    // the bounded topk_agg reducer — at 100 TB the graph build is
    // O(candidates) with k rows per vector crossing the wire, the
    // linear-ish kNN recipe every embedding-dedup paper assumes.
    QueryDef("sim14_knn_graph", (s, d) => {
      val e = emb(s, d).filter(col("vec_id") < 500)
      val cand = lshCandidatePairs(s, e)
      val sym = cand.select(col("ida"), col("idb"))
        .union(cand.select(col("idb").as("ida"), col("ida").as("idb")))
      val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
      val scored = sym.join(a, "ida").join(b, "idb")
        .select(col("ida"), col("idb"),
          floor(cosine(col("ea"), col("eb")) * 10000).cast("double").as("cs"))
      scored.groupBy("ida")
        .agg(graft.functions.TopKAgg.topk_agg(col("cs"), col("idb"), 3).as("top"))
        .select(col("ida"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("ida"), (col("pos") + 1).cast("int").as("rank"),
          col("t.id").as("nbr"), col("t.score").cast("long").as("cos_x1e4"))
        .orderBy("ida", "rank")
    }, Some("""
      WITH planes AS (
        SELECT p, dim,
               (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(dim AS VARCHAR)),1,7))::BIGINT) % 2001 - 1000 AS w
        FROM generate_series(0, 15) tp(p), generate_series(1, 64) td(dim)),
      flat AS (
        SELECT vec_id, dim, CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim) WHERE vec_id < 500),
      proj AS (
        SELECT vec_id, p, CAST(SUM(xq*w) AS BIGINT) AS proj
        FROM flat JOIN planes USING (dim) GROUP BY vec_id, p),
      bands AS (
        SELECT vec_id, CAST(FLOOR(p/4.0) AS INTEGER) AS band,
               CAST(SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END) AS BIGINT) AS key
        FROM proj GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
      sym AS (SELECT ida, idb FROM cand UNION ALL SELECT idb, ida FROM cand),
      scored AS (
        SELECT s.ida, s.idb,
               CAST(FLOOR(list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[])*10000) AS BIGINT) AS cos_x1e4
        FROM sym s JOIN embeddings a ON a.vec_id = s.ida
                   JOIN embeddings b ON b.vec_id = s.idb),
      ranked AS (
        SELECT ida, idb, cos_x1e4,
               ROW_NUMBER() OVER (PARTITION BY ida ORDER BY cos_x1e4 DESC, idb) AS rank
        FROM scored)
      SELECT ida, CAST(rank AS INTEGER) AS rank, idb AS nbr, cos_x1e4
      FROM ranked WHERE rank <= 3 ORDER BY ida, rank""")),

    // ---- sim15: the full IVF-PQ index (FAISS's IndexIVFPQ shape),
    // composing sim03's coarse pruning with sim10's compressed scoring:
    // vectors land in IVF lists by nearest full-dim centroid (exact
    // integer L2, ties → lowest cid); queries probe their 2 nearest
    // lists; ONLY candidates in probed lists are ADC-scored from their
    // 8 PQ codes via the per-query lookup table. This is the serving
    // shape of every billion-vector deployment: the coarse step prunes
    // the scan to probed lists, the fine step touches 8 small ints per
    // survivor — original vectors are read by NOTHING after indexing.
    // Exchanges: codebook/centroid/table joins all broadcast (≤32 rows);
    // the only data-sized shuffles are the per-vector aggregates and the
    // final bounded top-3.
    QueryDef("sim15_ivf_pq", (s, d) => {
      val flat = flatQuantized(emb(s, d).filter(col("vec_id") < 300))
      val sub = expr("CAST((dim - 1) div 8 AS INT)")
      val cb = flat.filter(col("vec_id") < 4)
        .select(col("vec_id").as("c"), col("dim"), col("xq").as("cq"))
      // coarse quantizer: full-64-dim integer L2 against the 4 centroids
      val dfull = flat.join(broadcast(cb), "dim")
        .groupBy(col("vec_id"), col("c"))
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
      val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c"))
      val assign = dfull.withColumn("rn", row_number().over(wAssign))
      val lists = assign.filter(col("rn") === 1)
        .select(col("vec_id").as("vid"), col("c").as("cid"))
      val probes = assign.filter(col("rn") <= 2 && col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("c").as("cid"))
      // PQ codes: nearest codeword per 8-dim subvector (sim09's encode)
      val dsub = flat.join(broadcast(cb), "dim")
        .groupBy(col("vec_id"), sub.as("sub"), col("c"))
        .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
      val wEnc = Window.partitionBy(col("vec_id"), col("sub"))
        .orderBy(col("d2"), col("c"))
      val codes = dsub.withColumn("rn", row_number().over(wEnc))
        .filter(col("rn") === 1)
        .select(col("vec_id").as("vid"), col("sub"), col("c").as("code"))
      // per-query ADC table: query subvectors vs every codeword
      val qflat = flat.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("dim"), col("xq").as("qx"))
      val table = qflat.join(broadcast(cb), "dim")
        .groupBy(col("qid"), sub.as("sub"), col("c").as("code"))
        .agg(sum((col("qx") - col("cq")) * (col("qx") - col("cq"))).as("td2"))
      // candidates = vectors in the probed lists; score = 8 table lookups
      val cands = probes.join(lists, "cid").filter(col("vid") =!= col("qid"))
        .select("qid", "vid")
      val scored = cands.join(codes, "vid")
        .join(broadcast(table), Seq("qid", "sub", "code"))
        .groupBy(col("qid"), col("vid"))
        .agg(sum(col("td2")).as("adc"))
      val wq = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vid"))
      scored.withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vid"), col("adc"), col("rank"))
        .orderBy("qid", "rank")
    }, Some("""
      WITH flat AS (
        SELECT vec_id, dim,
               CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim) WHERE vec_id < 300),
      cb AS (SELECT vec_id AS c, dim, xq AS cq FROM flat WHERE vec_id < 4),
      dfull AS (
        SELECT f.vec_id, cb.c,
               CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS d2
        FROM flat f JOIN cb ON cb.dim = f.dim GROUP BY 1, 2),
      assign AS (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
        FROM dfull),
      lists AS (SELECT vec_id AS vid, c AS cid FROM assign WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, c AS cid FROM assign
                 WHERE rn <= 2 AND vec_id < 10),
      dsub AS (
        SELECT f.vec_id, CAST((f.dim - 1) // 8 AS INTEGER) AS sub, cb.c,
               CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS d2
        FROM flat f JOIN cb ON cb.dim = f.dim GROUP BY 1, 2, 3),
      codes AS (
        SELECT vec_id AS vid, sub, c AS code FROM (
          SELECT vec_id, sub, c, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
          FROM dsub) WHERE rn = 1),
      tbl AS (
        SELECT f.vec_id AS qid, CAST((f.dim - 1) // 8 AS INTEGER) AS sub,
               cb.c AS code, CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS td2
        FROM flat f JOIN cb ON cb.dim = f.dim
        WHERE f.vec_id < 10 GROUP BY 1, 2, 3),
      cands AS (SELECT p.qid, l.vid FROM probes p JOIN lists l ON p.cid = l.cid
                WHERE l.vid <> p.qid),
      scored AS (
        SELECT ca.qid, ca.vid, CAST(SUM(t.td2) AS BIGINT) AS adc
        FROM cands ca
        JOIN codes ON codes.vid = ca.vid
        JOIN tbl t ON t.qid = ca.qid AND t.sub = codes.sub AND t.code = codes.code
        GROUP BY 1, 2),
      ranked AS (
        SELECT qid, vid, adc,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vid) AS rank
        FROM scored)
      SELECT qid, vid, CAST(adc AS BIGINT) AS adc, CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- sim16: MMR (maximal-marginal-relevance) diversity re-rank —
    // the retrieval step between ANN top-k and a RAG prompt: from each
    // query's top-10 relevance pool, greedily pick 3 results maximizing
    // λ·rel − (1−λ)·max-sim-to-already-picked (λ=0.7, all in exact
    // integers: scores ×1e4, MMR ×10 → 7·rel − 3·maxsim; ties → lowest
    // vid). The greedy loop is data-DEPENDENT sequential — the classic
    // "iterative algorithm on a bounded relation" shape: the corpus-sized
    // work (relevance scan) happens ONCE through the bounded topk_agg
    // exchange; the 3 unrolled selection steps then run on a ≤10-row/query
    // relation where every join is trivially small. Same unroll
    // discipline as graph06's 3 PageRank iterations, oracle-checkable
    // step for step.
    QueryDef("sim16_mmr_rerank", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val v = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      val scored = q.join(v, col("qid") =!= col("vid"))
        .select(col("qid"), col("vid"),
          floor(cosine(col("qe"), col("ve")) * 10000).cast("double").as("rel"))
      val pool = scored.groupBy("qid")
        .agg(graft.functions.TopKAgg.topk_agg(col("rel"), col("vid"), 10).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.id").as("vid"),
          col("t.score").cast("long").as("rel"))
      // pairwise sims inside each pool (<= 10x9 rows per query)
      val pe = pool.join(e, pool("vid") === e("vec_id"))
        .select(col("qid"), col("vid"), col("embedding"))
      val sims = pe.as("a").join(pe.as("b"),
          col("a.qid") === col("b.qid") && col("a.vid") =!= col("b.vid"))
        .select(col("a.qid").as("qid"), col("a.vid").as("va"), col("b.vid").as("vb"),
          floor(cosine(col("a.embedding"), col("b.embedding")) * 10000)
            .cast("long").as("sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("mmr").desc, col("vid"))
      // step 1: pure relevance
      val s1 = pool.withColumn("mmr", col("rel") * 7)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("vid").as("v1"), col("mmr").as("m1"))
      // step 2: penalized by similarity to s1
      val s2 = pool.as("p").join(s1.as("t1"), col("p.qid") === col("t1.qid"))
        .filter(col("p.vid") =!= col("t1.v1"))
        .join(sims.as("sm"), col("p.qid") === col("sm.qid")
          && col("p.vid") === col("sm.va") && col("t1.v1") === col("sm.vb"))
        .select(col("p.qid").as("qid"), col("p.vid").as("vid"),
          (col("p.rel") * 7 - col("sm.sim") * 3).as("mmr"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("vid").as("v2"), col("mmr").as("m2"))
      // step 3: penalized by the max similarity to {s1, s2}
      val s3 = pool.as("p")
        .join(s1.as("t1"), col("p.qid") === col("t1.qid"))
        .join(s2.as("t2"), col("p.qid") === col("t2.qid"))
        .filter(col("p.vid") =!= col("t1.v1") && col("p.vid") =!= col("t2.v2"))
        .join(sims.as("x1"), col("p.qid") === col("x1.qid")
          && col("p.vid") === col("x1.va") && col("t1.v1") === col("x1.vb"))
        .join(sims.as("x2"), col("p.qid") === col("x2.qid")
          && col("p.vid") === col("x2.va") && col("t2.v2") === col("x2.vb"))
        .select(col("p.qid").as("qid"), col("p.vid").as("vid"),
          (col("p.rel") * 7 - greatest(col("x1.sim"), col("x2.sim")) * 3).as("mmr"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("vid").as("v3"), col("mmr").as("m3"))
      s1.select(col("qid"), lit(1).as("rank"), col("v1").as("vid"), col("m1").as("mmr_x1e4"))
        .union(s2.select(col("qid"), lit(2), col("v2"), col("m2")))
        .union(s3.select(col("qid"), lit(3), col("v3"), col("m3")))
        .orderBy("qid", "rank")
    }, Some("""
      WITH scored AS (
        SELECT q.vec_id AS qid, v.vec_id AS vid,
               CAST(FLOOR(list_cosine_similarity(q.embedding::DOUBLE[],
                                                 v.embedding::DOUBLE[])*10000) AS BIGINT) AS rel
        FROM embeddings q JOIN embeddings v ON q.vec_id < 5 AND q.vec_id <> v.vec_id),
      pool AS (
        SELECT qid, vid, rel FROM (
          SELECT qid, vid, rel,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vid) AS rn
          FROM scored) WHERE rn <= 10),
      sims AS (
        SELECT a.qid, a.vid AS va, b.vid AS vb,
               CAST(FLOOR(list_cosine_similarity(ea.embedding::DOUBLE[],
                                                 eb.embedding::DOUBLE[])*10000) AS BIGINT) AS sim
        FROM pool a JOIN pool b ON a.qid = b.qid AND a.vid <> b.vid
        JOIN embeddings ea ON ea.vec_id = a.vid
        JOIN embeddings eb ON eb.vec_id = b.vid),
      s1 AS (
        SELECT qid, vid AS v1, rel * 7 AS m1 FROM (
          SELECT qid, vid, rel,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel * 7 DESC, vid) AS rn
          FROM pool) WHERE rn = 1),
      s2 AS (
        SELECT qid, vid AS v2, mmr AS m2 FROM (
          SELECT p.qid, p.vid, p.rel * 7 - s.sim * 3 AS mmr,
                 ROW_NUMBER() OVER (PARTITION BY p.qid
                   ORDER BY p.rel * 7 - s.sim * 3 DESC, p.vid) AS rn
          FROM pool p JOIN s1 ON p.qid = s1.qid AND p.vid <> s1.v1
          JOIN sims s ON s.qid = p.qid AND s.va = p.vid AND s.vb = s1.v1)
        WHERE rn = 1),
      s3 AS (
        SELECT qid, vid AS v3, mmr AS m3 FROM (
          SELECT p.qid, p.vid,
                 p.rel * 7 - GREATEST(x1.sim, x2.sim) * 3 AS mmr,
                 ROW_NUMBER() OVER (PARTITION BY p.qid
                   ORDER BY p.rel * 7 - GREATEST(x1.sim, x2.sim) * 3 DESC, p.vid) AS rn
          FROM pool p
          JOIN s1 ON p.qid = s1.qid JOIN s2 ON p.qid = s2.qid
          JOIN sims x1 ON x1.qid = p.qid AND x1.va = p.vid AND x1.vb = s1.v1
          JOIN sims x2 ON x2.qid = p.qid AND x2.va = p.vid AND x2.vb = s2.v2
          WHERE p.vid <> s1.v1 AND p.vid <> s2.v2)
        WHERE rn = 1)
      SELECT qid, CAST(1 AS INTEGER) AS rank, v1 AS vid, CAST(m1 AS BIGINT) AS mmr_x1e4 FROM s1
      UNION ALL
      SELECT qid, 2, v2, CAST(m2 AS BIGINT) FROM s2
      UNION ALL
      SELECT qid, 3, v3, CAST(m3 AS BIGINT) FROM s3
      ORDER BY qid, rank""")),

    // ---- sim17: PERSISTED index serving — the build/serve split sim15
    // runs fused (r12 ask #4). A real deployment indexes once and
    // answers queries from storage for months, so the IVF-PQ index is
    // materialized as three parquet relations — codebook (4×64 centroid
    // components), lists (vid → coarse cell), codes (vid × 8 PQ codes)
    // — and the serve half runs in a FRESH SparkSession (s.newSession():
    // no shared plans, views, or cached relations) that reads the index
    // tables plus the incoming query vectors and NOTHING else: the
    // original corpus vectors are not touched at serve time (plan-locked
    // — the only embeddings scan is the vec_id < 10 query batch).
    // Serve-side math is sim15's exactly (coarse-probe 2 lists via the
    // persisted codebook, ADC over persisted codes), so the oracle is
    // sim15's verbatim — persistence must be value-faithful end to end
    // (schema, encoding, and the long-quantized integer arithmetic all
    // survive the parquet round trip).
    QueryDef("sim17_ann_index_serve", (s, d) => {
      val idxDir = TempDirs.create("graft-ann-index")
      // BUILD session: derive the index exactly as sim15 and persist it
      buildIvfPqIndex(s, d, idxDir.toString)
      // SERVE session: fresh state; only index tables + the query batch
      val s2 = s.newSession()
      serveIvfPq(s2,
        Tables.load(s2, d, "embeddings").filter(col("vec_id") < 10),
        idxDir.toString)
        .orderBy("qid", "rank")
    }, Some("""
      WITH flat AS (
        SELECT vec_id, dim,
               CAST(FLOOR(CAST(embedding[dim] AS DOUBLE)*1000) AS BIGINT) AS xq
        FROM embeddings, generate_series(1, 64) t(dim) WHERE vec_id < 300),
      cb AS (SELECT vec_id AS c, dim, xq AS cq FROM flat WHERE vec_id < 4),
      dfull AS (
        SELECT f.vec_id, cb.c,
               CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS d2
        FROM flat f JOIN cb ON cb.dim = f.dim GROUP BY 1, 2),
      assign AS (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
        FROM dfull),
      lists AS (SELECT vec_id AS vid, c AS cid FROM assign WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, c AS cid FROM assign
                 WHERE rn <= 2 AND vec_id < 10),
      dsub AS (
        SELECT f.vec_id, CAST((f.dim - 1) // 8 AS INTEGER) AS sub, cb.c,
               CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS d2
        FROM flat f JOIN cb ON cb.dim = f.dim GROUP BY 1, 2, 3),
      codes AS (
        SELECT vec_id AS vid, sub, c AS code FROM (
          SELECT vec_id, sub, c, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn
          FROM dsub) WHERE rn = 1),
      tbl AS (
        SELECT f.vec_id AS qid, CAST((f.dim - 1) // 8 AS INTEGER) AS sub,
               cb.c AS code, CAST(SUM((f.xq - cb.cq) * (f.xq - cb.cq)) AS BIGINT) AS td2
        FROM flat f JOIN cb ON cb.dim = f.dim
        WHERE f.vec_id < 10 GROUP BY 1, 2, 3),
      cands AS (SELECT p.qid, l.vid FROM probes p JOIN lists l ON p.cid = l.cid
                WHERE l.vid <> p.qid),
      scored AS (
        SELECT ca.qid, ca.vid, CAST(SUM(t.td2) AS BIGINT) AS adc
        FROM cands ca
        JOIN codes ON codes.vid = ca.vid
        JOIN tbl t ON t.qid = ca.qid AND t.sub = codes.sub AND t.code = codes.code
        GROUP BY 1, 2),
      ranked AS (
        SELECT qid, vid, adc,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vid) AS rank
        FROM scored)
      SELECT qid, vid, CAST(adc AS BIGINT) AS adc, CAST(rank AS INTEGER) AS rank
      FROM ranked WHERE rank <= 3 ORDER BY qid, rank"""))
  )
}
