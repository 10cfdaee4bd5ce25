package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators for training-data pipelines,
  * oracle-checked against DuckDB. All built from codegen'd
  * `org.apache.spark.sql.functions` (no UDFs in these paths), so the
  * whole pipeline stays inside WholeStageCodegen and scales by partition.
  *
  * Hash discipline: the only cross-engine-stable string hash is md5, so
  * MinHash/SimHash derive their integer hashes from md5 hex prefixes
  * (28 bits → products with 20-bit coefficients stay far below 2^63).
  */
object TextDedup {
  // stable 28-bit integer hash of a string, identical in DuckDB:
  //   ('0x' || substr(md5(s),1,7))::BIGINT
  private[queries] def h28(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 7), 16, 10).cast("long")

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** Distinct 3-word shingles per doc (doc_id bounded for pair queries). */
  private def shingles(s: SparkSession, d: String, maxDoc: Long): DataFrame =
    shinglesOf(docs(s, d).filter(col("doc_id") < maxDoc))

  /** Bounded (doc_id, text) slice for the pair queries' MinHash feed. */
  private[queries] def docsBounded(s: SparkSession, d: String, maxDoc: Long): DataFrame =
    docs(s, d).filter(col("doc_id") < maxDoc)

  /** Near-dup clusters of the first 200 docs as `(doc_id, root)`: dd03's
    * banded MinHash candidate pairs → StarCC connected components, root =
    * the cluster's min doc_id. Docs in no candidate pair are absent. The
    * cluster step of dd09, dd11, dd18, dd19, dd26 and graph09. */
  private[queries] def nearDupClusters(s: SparkSession, d: String): DataFrame =
    graft.graph.StarCC.labels(minhashBandPairs(docsBounded(s, d, 200), broadcastBands = true)
        .select(col("ida").as("src"), col("idb").as("dst")))
      .select(col("node").as("doc_id"), col("root"))

  /** `(root, n_docs, max_doc)` per near-dup cluster (dd09, graph09). */
  private[queries] def nearDupClusterSizes(s: SparkSession, d: String): DataFrame =
    nearDupClusters(s, d)
      .groupBy("root")
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .orderBy("root")

  private[queries] def shinglesOf(df: DataFrame): DataFrame =
    shinglesRawOf(df).distinct()

  /** Non-distinct shingle occurrences: for duplicate-insensitive consumers
    * (MinHash — min over a multiset equals min over its set) this skips
    * the set-semantics `distinct()`, which is a full |shingles| exchange.
    * Shingle rows then flow from the codegen explode straight into the
    * partial aggregate with no shuffle before the per-doc signature. */
  private[queries] def shinglesRawOf(df: DataFrame): DataFrame = {
    df.withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(sequence(lit(1), size(col("ws")) - 2)).as("i"),
        col("ws"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("ws"), col("i")),
          element_at(col("ws"), col("i") + 1),
          element_at(col("ws"), col("i") + 2)).as("sh"))
  }

  // DuckDB v1.0: generate_series cannot take lateral column args in FROM,
  // but the scalar list form unnest(generate_series(...)) can.
  private val shinglesSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |              WHERE doc_id < %d AND len(string_split(text, ' ')) >= 3)))""".stripMargin

  // MinHash coefficients — the single source of truth lives in
  // graft.functions.MinHashAgg; the oracle SQL below is generated from the
  // same values the Spark aggregate uses, so they can never drift apart.
  private val A = graft.functions.MinHashAgg.A.toSeq
  private val B = graft.functions.MinHashAgg.B.toSeq
  private val P = graft.functions.MinHashAgg.P

  val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Max docs a shingle may appear in before it is excluded from Jaccard
    * similarity. A stop-phrase shingle shared by k docs fans out k² join
    * rows — one degenerate repeated phrase melts the stage at 100 TB. Same
    * skew guard as `maxBuyersPerPart` in GraphOps.coPurchasePairs.
    * Excluded from BOTH the intersection join and the per-doc set sizes, so
    * the semantics stay a true Jaccard over the filtered shingle space. */
  val maxShingleDocFreq = 20

  /** Capped pairwise intersection counts over a (doc_id, sh) shingle
    * set: hot shingles (doc-frequency > maxDf) are dropped before the
    * self-join, capping fan-out at maxDf² per shingle. Returns
    * (ida, idb, c, sa_n, sb_n) — intersection size plus both per-doc set
    * sizes — from which Jaccard (dd02) and containment (dd12) are one
    * projection each.
    *
    * The keep list is deliberately NOT broadcast: it is the LONG TAIL of
    * the vocabulary (the df-cap only removes hot shingles), so it scales
    * with corpus vocabulary and would OOM a broadcast at 100 TB. As a
    * shuffle join on sh it co-partitions with the self-join below, which
    * reuses the exchange. Shape locked by PlanShapeSpec. */
  private[queries] def cappedPairCounts(sh: DataFrame, maxDf: Int): DataFrame = {
    val keep = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    val fsh = sh.join(keep, "sh")
    val sz = fsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = fsh.as("a"); val b = fsh.as("b")
    a.join(b, col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("c"))
      .join(sz.as("sa"), col("ida") === col("sa.doc_id"))
      .join(sz.as("sb"), col("idb") === col("sb.doc_id"))
      .select(col("ida"), col("idb"), col("c"),
        col("sa.n").as("sa_n"), col("sb.n").as("sb_n"))
  }

  /** Jaccard near-dup pairs — the dd02 pipeline body, parameterized so
    * tests can feed degenerate corpora. */
  private[queries] def jaccardPairs(sh: DataFrame, minJacX1e4: Int,
                                    maxDf: Int): DataFrame = {
    cappedPairCounts(sh, maxDf)
      .select(col("ida"), col("idb"),
        floor(col("c").cast("double") / (col("sa_n") + col("sb_n") - col("c")) * 10000)
          .cast("long").as("jac_x1e4"))
      .filter(col("jac_x1e4") >= minJacX1e4)
      .orderBy("ida", "idb")
  }

  /** MinHash-LSH candidate pairs over a (doc_id, text) document frame:
    * one-pass scan-side signatures (MinHashSig), 4 bands of 2 rows, pairs
    * from the band-equality bucket join — (ida, idb, shared_bands),
    * unordered. Shared body of dd03 (bounded), dd08 (whole corpus) and
    * dd09 (cluster step); the scale shape is the bucket equi-join, never
    * n². */
  /** Per-doc 8-hash MinHash signatures as a wide (doc_id, m0..m7) frame
    * from a (doc_id, text) document frame — one native `minhash_sig`
    * byte pass per document inside WholeStageCodegen: the shingle
    * explode, per-shingle md5 hex decode, and doc-keyed signature
    * aggregate of the staged derivation (kept as
    * [[minhashSignaturesStaged]], equivalence-gated by MinHashSigSpec)
    * all collapse into the scan. Exposed so estimator diagnostics (dd15)
    * can read the raw signatures. */
  private[queries] def minhashSignatures(docsDf: DataFrame): DataFrame = {
    // NO null filter here: a Filter(sig IS NOT NULL) above the projection
    // is pushed through it into the scan as isnotnull(minhash_sig(text)),
    // evaluating every signature twice (the PushdownAudit bug class).
    // Docs with <3 words surface as all-null m0..m7 rows instead; the
    // consumer (dd15) inner-joins on banded candidate doc_ids, which
    // drops them — same rows as the staged pipeline's size(ws)>=3 filter.
    minhashSigRaw(docsDf).select(col("doc_id") +:
      (0 until 8).map(j => element_at(col("sig"), j + 1).as(s"m$j")): _*)
  }

  /** (doc_id, sig) with NO null filter — the hot-path variant: a
    * `Filter(isnotnull(sig))` above the projection gets pushed through it
    * into the scan as `isnotnull(minhash_sig(text))`, making the scan
    * compute every signature TWICE (once in the pushed DataFilter, once
    * in the Project). Band consumers instead guard structurally
    * ([[bandKeysOfSig]]'s `when` wraps the band array, and exploding a
    * null array emits nothing), so no predicate ever references the
    * expensive expression and it is evaluated exactly once per document. */
  private[queries] def minhashSigRaw(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"),
      graft.functions.MinHashSig.minhash_sig(col("text")).as("sig"))

  /** The staged shingle-level derivation minhash_sig fuses (explode →
    * h28 → minhash_agg), kept as the executable spec of the signature
    * semantics: MinHashSigSpec proves `minhashSignatures` equals this on
    * real corpora, and the DuckDB oracles remain word-for-word this
    * pipeline. */
  private[queries] def minhashSignaturesStaged(sh0: DataFrame): DataFrame = {
    val sh = sh0.withColumn("h", h28(col("sh")))
    val sig = sh.groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhash_agg(col("h")).as("sig"))
    sig.select(col("doc_id") +:
      (0 until 8).map(j => element_at(col("sig"), j + 1).as(s"m$j")): _*)
  }

  private[queries] def minhashBandPairs(docsDf: DataFrame,
                                        broadcastBands: Boolean = false): DataFrame =
    bandPairsOf(bandKeysOfSig(minhashSigRaw(docsDf)), broadcastBands)

  /** LSH banding over an ALREADY-COMPUTED signature frame — lets callers
    * that also read the raw signatures (dd15) share one signature
    * aggregation: both consumers hang off the same plan, so the shingle
    * shuffle feeding the aggregate is planned once and reused, instead of
    * the signature stage executing twice per run (ADVICE r8). */
  /** (doc_id, band, key) LSH band keys from a WIDE (m0..m7) signature
    * frame (dd15's diagnostic path). The `when(m0 IS NOT NULL)` wrapper
    * mirrors [[bandKeysOfSig]]: shingle-less docs carry all-null m0..m7
    * (see [[minhashSignatures]]), and `concat_ws` would otherwise map
    * every such doc to the SAME key "" — band-colliding unrelated
    * sub-3-word docs into spurious agree=0 candidate pairs the staged
    * oracle (which drops shingle-less docs) never produces. Nulling the
    * band array makes the explode emit nothing, same as the staged
    * pipeline's size(ws)>=3 filter, without a pushdown-rewritable
    * Filter node. */
  private[queries] def bandKeysOf(minhashes: DataFrame): DataFrame =
    minhashes.select(col("doc_id"),
      explode(when(col("m0").isNotNull, array((0 until 4).map(bi =>
        struct(lit(bi).as("band"),
          concat_ws("_", col(s"m${2 * bi}"), col(s"m${2 * bi + 1}")).as("key"))): _*))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** (doc_id, band, key) LSH band keys straight off the raw (doc_id, sig)
    * frame — the hot path shared by the pair join (dd03/dd08) and the
    * index-probe consumers (dd23, stream16). The `when(sig IS NOT NULL)`
    * wrapper is the shingle-less-doc guard: it nulls the band ARRAY (so
    * the explode emits no rows, matching the staged pipeline's
    * `size(ws) >= 3` drop) without introducing a Filter node that
    * predicate pushdown would rewrite into a second scan-side
    * `minhash_sig` evaluation (see [[minhashSigRaw]]). */
  private[queries] def bandKeysOfSig(sigDf: DataFrame): DataFrame =
    sigDf.select(col("doc_id"),
      explode(when(col("sig").isNotNull, array((0 until 4).map(bi =>
        struct(lit(bi).as("band"),
          concat_ws("_", element_at(col("sig"), 2 * bi + 1),
            element_at(col("sig"), 2 * bi + 2)).as("key"))): _*))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  private[queries] def bandPairsFromSignatures(minhashes: DataFrame): DataFrame =
    bandPairsOf(bandKeysOf(minhashes))

  private def bandPairsOf(bands: DataFrame,
                          broadcastRight: Boolean = false): DataFrame = {
    // broadcastRight (r18, VERDICT r17 #7): on the BOUNDED doc slice the
    // band frame is ~4 rows/doc, so the self-join's two-sided shuffle is
    // pure overhead — broadcasting one side deletes the exchange
    // (interleaved sf1 A/B: best 0.296 → 0.256 s; results identical,
    // r18 pair equality). Only for caller-bounded inputs: the
    // whole-corpus consumers (dd08 etc.) keep the scale-honest bucket
    // shuffle join.
    val x = bands.as("x")
    // non-broadcast path: pin the self-join to sort-merge (r21). The r20
    // plan got SMJ only because the keep-join lineage kept the size
    // estimate large; dd08's single-scan shape (agg output) estimates
    // small enough that the planner would broadcast a frame that GROWS
    // WITH THE CORPUS — the scale cliff PlanShapeSpec forbids. The merge
    // hint states the r20-measured choice (SMJ vs SHJ wash, spill-
    // graceful) instead of leaving it to a size estimate. The pin is
    // INTENTIONALLY blanket for every non-broadcast caller (dd08 via
    // minhashAllPairs, dd15 via bandPairsFromSignatures, minhashBandPairs):
    // all of them band the WHOLE corpus, so the same grows-with-corpus
    // broadcast cliff applies to each, and SMJ is the spill-graceful
    // choice wherever the build side is corpus-scaled (ADVICE r21).
    val y = if (broadcastRight) broadcast(bands.as("y"))
            else bands.as("y").hint("merge")
    x.join(y, col("x.band") === col("y.band") && col("x.key") === col("y.key")
        && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
      .agg(count(lit(1)).as("shared_bands"))
  }

  // the dd03 pair derivation as oracle SQL, parameterized by the doc CTE
  // feeding the shingles — kept textually beside the Spark helper so the
  // two cannot drift
  /** The shingle → minhash → LSH `bands` CTE chain, parameterized by the
    * doc CTE feeding the shingles — the SQL twin of
    * `bandKeysOfSig(minhashSigRaw(...))`, shared by the
    * pair oracle below and stream16's sequential-admission oracle. */
  private[queries] def minhashBandsSql(docsCte: String): String = s"""
      sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $docsCte
                    WHERE len(string_split(text, ' ')) >= 3))),
      hs AS (SELECT doc_id, ('0x' || substr(md5(sh),1,7))::BIGINT AS h FROM sh),
      mh AS (SELECT doc_id,
        ${A.zip(B).zipWithIndex.map { case ((a, b), j) =>
          s"MIN((h*$a + $b) % $P) AS m$j" }.mkString(", ")}
        FROM hs GROUP BY doc_id),
      bands AS (
        ${(0 until 4).map(bi =>
          s"SELECT doc_id, $bi AS band, CAST(m${2 * bi} AS VARCHAR) || '_' || CAST(m${2 * bi + 1} AS VARCHAR) AS key FROM mh")
          .mkString(" UNION ALL ")})"""

  private[queries] def minhashPairsSql(docsCte: String): String = s"""
      ${minhashBandsSql(docsCte)},
      pairs AS (
        SELECT x.doc_id AS ida, y.doc_id AS idb, COUNT(*) AS shared_bands
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
        GROUP BY 1, 2)"""

  /** Recursive min-label connected-components oracle block over a
    * `pairs(ida, idb)` CTE (dd09/dd19/graph09 share it — one definition,
    * so the StarCC/DuckDB agreement can't silently diverge on the oracle
    * side): emits edges/verts/reach/comp; callers SELECT from
    * `comp(node, root)`. */
  private[queries] val ccFixpointSql: String = """
      edges AS (SELECT ida AS src, idb AS dst FROM pairs
                UNION SELECT idb, ida FROM pairs),
      verts AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, lbl) AS (
        SELECT node, node FROM verts
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      comp AS (SELECT node, MIN(lbl) AS root FROM reach GROUP BY node)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- tx01: token counting (whitespace + BPE-ish length/4 subwords)
    // via the native token_stats expression (graft.functions.TokenStats):
    // one byte-loop per row inside WholeStageCodegen — no Generate, no
    // aggregate, no exchange. The earlier explode + two-phase hash-agg
    // shape shuffled one row per doc; this is a pure scan-side map, the
    // shape token counting must have at 100 TB.
    QueryDef("tx01_tokens", (s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          graft.functions.TokenStats.token_stats(col("text")).as("ts"))
        .select(col("doc_id"), element_at(col("ts"), 1).cast("int").as("n_tokens"),
          element_at(col("ts"), 2).as("n_subwords"),
          element_at(col("ts"), 3).cast("int").as("n_chars"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, CAST(len(string_split(text,' ')) AS INTEGER) AS n_tokens,
             CAST(list_sum(list_transform(string_split(text,' '),
                      w -> CAST(FLOOR((length(w)+3)/4) AS BIGINT))) AS BIGINT) AS n_subwords,
             CAST(length(text) AS INTEGER) AS n_chars
      FROM documents ORDER BY doc_id""")),

    // ---- tx02: quality scoring — length / stopword / distinct-token ratios
    QueryDef("tx02_quality", (s, d) => {
      val ws = split(col("text"), " ")
      val stopArr = array(stopwords.map(lit): _*)
      docs(s, d).select(
        col("doc_id"),
        size(ws).as("n_tokens"),
        floor(length(col("text")).cast("double") / size(ws) * 10000).cast("long")
          .as("avg_toklen_x1e4"),
        floor(size(filter(ws, w => array_contains(stopArr, w))).cast("double")
          / size(ws) * 10000).cast("long").as("stop_ratio_x1e4"),
        floor(size(array_distinct(ws)).cast("double") / size(ws) * 10000)
          .cast("long").as("uniq_ratio_x1e4"))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, CAST(len(string_split(text,' ')) AS INTEGER) AS n_tokens,
             CAST(FLOOR(CAST(length(text) AS DOUBLE)/len(string_split(text,' '))*10000) AS BIGINT) AS avg_toklen_x1e4,
             CAST(FLOOR(CAST(len(list_filter(string_split(text,' '),
                  w -> list_contains(['the','a','of','and','to','in'], w))) AS DOUBLE)
                  / len(string_split(text,' '))*10000) AS BIGINT) AS stop_ratio_x1e4,
             CAST(FLOOR(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                  / len(string_split(text,' '))*10000) AS BIGINT) AS uniq_ratio_x1e4
      FROM documents ORDER BY doc_id""")),

    // ---- tx03: language ID — stopword-marker heuristic (CASE-rule n-gram
    // scoring; the synthetic corpus shares one vocabulary, so the value of
    // this query is exact rule parity with the oracle, not accuracy)
    QueryDef("tx03_langid", (s, d) => {
      val padded = concat(lit(" "), col("text"), lit(" "))
      def has(w: String) = padded.contains(s" $w ")
      docs(s, d).select(
        col("doc_id"), col("lang").as("label"),
        when(has("der") || has("und") || has("die"), "de")
          .when(has("le") || has("la") || has("et"), "fr")
          .when(has("el") || has("los") || has("que"), "es")
          .when(has("the") || has("a"), "en")
          .otherwise("unknown").as("predicted"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, lang AS label,
             CASE
               WHEN contains(' '||text||' ', ' der ') OR contains(' '||text||' ', ' und ')
                    OR contains(' '||text||' ', ' die ') THEN 'de'
               WHEN contains(' '||text||' ', ' le ') OR contains(' '||text||' ', ' la ')
                    OR contains(' '||text||' ', ' et ') THEN 'fr'
               WHEN contains(' '||text||' ', ' el ') OR contains(' '||text||' ', ' los ')
                    OR contains(' '||text||' ', ' que ') THEN 'es'
               WHEN contains(' '||text||' ', ' the ') OR contains(' '||text||' ', ' a ') THEN 'en'
               ELSE 'unknown' END AS predicted
      FROM documents ORDER BY doc_id""")),

    // ---- tx04: document fingerprinting (md5 of normalized text + 28-bit)
    QueryDef("tx04_fingerprint", (s, d) => {
      docs(s, d).select(
        col("doc_id"),
        md5(lower(trim(col("text"))).cast("binary")).as("fp"),
        h28(lower(trim(col("text")))).as("fp28"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, md5(lower(trim(text))) AS fp,
             ('0x' || substr(md5(lower(trim(text))),1,7))::BIGINT AS fp28
      FROM documents ORDER BY doc_id""")),

    // ---- dd01: exact dedup via hash-groupBy (map-side combine; the
    // canonical 100 TB exact-dedup shape: group on fingerprint, keep min id)
    QueryDef("dd01_exact_dup_groups", (s, d) => {
      docs(s, d)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .orderBy("fp")
    }, Some("""
      SELECT md5(text) AS fp, COUNT(*) AS n, MIN(doc_id) AS keeper
      FROM documents GROUP BY 1 ORDER BY fp""")),

    // ---- dd02: n-gram Jaccard near-dup pairs (3-word shingles, exact
    // integer set algebra: |A∩B| via shingle-join, sizes via group counts;
    // hot shingles capped at maxShingleDocFreq docs to bound join fan-out)
    QueryDef("dd02_jaccard_pairs", (s, d) => {
      jaccardPairs(shingles(s, d, 80), minJacX1e4 = 100, maxDf = maxShingleDocFreq)
    }, Some(s"""
      WITH ${shinglesSql.format(80)},
      keep AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
               WHERE df <= $maxShingleDocFreq),
      fsh AS (SELECT doc_id, sh.sh AS sh FROM sh JOIN keep USING (sh)),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM fsh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS c
        FROM fsh a JOIN fsh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT ida, idb,
             CAST(FLOOR(CAST(c AS DOUBLE)/(sa.n + sb.n - c)*10000) AS BIGINT) AS jac_x1e4
      FROM common JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
      WHERE CAST(FLOOR(CAST(c AS DOUBLE)/(sa.n + sb.n - c)*10000) AS BIGINT) >= 100
      ORDER BY ida, idb""")),

    // ---- dd03: MinHash + LSH banding — signatures from 8 stable hash
    // functions over shingles, 4 bands of 2 rows, candidate pairs via
    // band-equality shuffle join (the scale path: bucket join, never n²)
    QueryDef("dd03_minhash_lsh_pairs", (s, d) => {
      // one-pass K-way signatures via the custom TypedImperativeAggregate
      // (graft.functions.MinHashAgg), banded bucket join — see
      // minhashBandPairs above
      minhashBandPairs(docsBounded(s, d, 200), broadcastBands = true).orderBy("ida", "idb")
    }, Some(s"""
      WITH docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      ${minhashPairsSql("docs200")}
      SELECT ida, idb, shared_bands FROM pairs ORDER BY ida, idb""")),

    // ---- dd08: MinHash over the WHOLE corpus, no doc cap — the honest
    // bench entry (VERDICT r2 perf note: dd03's 200-doc cap made its bench
    // line measure pure dispatch). The k² blow-up of identical documents
    // sharing every band is removed the way a real pipeline does: exact
    // dedup FIRST (min doc_id per fingerprint), near-dup candidates over
    // the survivors. Output is the shared-band histogram, so the result
    // stays tiny while the work (shingling + signatures + banded join)
    // scales with the corpus.
    //
    // r21 single-scan shape (guide §2.3/§2.4): md5 AND minhash_sig are
    // both computed in ONE pass over the text, and the exact-dedup step
    // is the same shuffle that picks the surviving signature —
    // min(struct(doc_id, sig)) per fingerprint. Identical texts have
    // identical signatures, so the struct-min's sig is byte-for-byte the
    // sig of MIN(doc_id): same survivors, same pairs as the r20
    // two-scan + keep-join formulation (oracle SQL unchanged, PASS).
    // What moved: the second corpus scan and the keep-side broadcast
    // build are gone; the one exchange carries (fp, doc_id, 8-long sig)
    // metadata rows, never text.
    QueryDef("dd08_minhash_all", (s, d) => {
      val sigs = docs(s, d)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"),
          graft.functions.MinHashSig.minhash_sig(col("text")).as("sig"))
        .groupBy("fp").agg(min(struct(col("doc_id"), col("sig"))).as("k"))
        .select(col("k.doc_id").as("doc_id"), col("k.sig").as("sig"))
      bandPairsOf(bandKeysOfSig(sigs))
        .groupBy("shared_bands")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("shared_bands")
    }, Some(s"""
      WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      docs2 AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
      ${minhashPairsSql("docs2")}
      SELECT shared_bands, COUNT(*) AS n_pairs FROM pairs
      GROUP BY 1 ORDER BY shared_bands""")),

    // ---- dd09: near-dup CLUSTERS — the step after pair generation every
    // real dedup pipeline runs: candidate pairs (dd03's banded MinHash
    // join) → connected components → one keeper per cluster. Components
    // via StarCC: a candidate set under the broadcast budget finishes with
    // a union-find on the driver, a larger one runs the distributed
    // large-star/small-star rounds (the 100 TB path). The oracle re-derives
    // the same clusters as a recursive-CTE min-label reachability, so the
    // graph algorithm is checked against a first-principles SQL fixpoint
    // (graph04 pattern).
    QueryDef("dd09_lsh_cc_clusters", (s, d) => nearDupClusterSizes(s, d), Some(s"""
      WITH RECURSIVE docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      ${minhashPairsSql("docs200")},
      $ccFixpointSql
      SELECT root, COUNT(*) AS n_docs, MAX(node) AS max_doc
      FROM comp GROUP BY 1 ORDER BY root""")),

    // ---- dd19: CANONICAL-doc selection per near-dup cluster — the policy
    // step between clustering (dd09) and dedup apply (dd11): dd11 keeps
    // the min doc_id per cluster, but production pipelines keep the BEST
    // document (longest / highest quality) and drop its near-duplicates.
    // Per cluster: the (n_chars DESC, doc_id ASC) argmax via a single
    // struct-max aggregate — no window over the corpus, and the cluster
    // relation is dd09's StarCC output (cluster-sized, tiny next to the
    // corpus at any scale); quality joins in by doc_id equi-join.
    QueryDef("dd19_canonical_selection", (s, d) => {
      val comp = nearDupClusters(s, d)
      val dq = docs(s, d).select(col("doc_id"), col("n_chars"))
      comp.join(dq, "doc_id")
        .groupBy("root")
        // argmax by (n_chars DESC, doc_id ASC): struct-max with negated id
        .agg(max(struct(col("n_chars"), negate(col("doc_id")).as("nid"))).as("best"),
          count(lit(1)).as("n_docs"))
        .select(col("root"), negate(col("best.nid")).as("canonical_doc"),
          col("best.n_chars").as("canonical_chars"), col("n_docs"))
        .orderBy("root")
    }, Some(s"""
      WITH RECURSIVE docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      ${minhashPairsSql("docs200")},
      $ccFixpointSql,
      scored AS (
        SELECT c.root, c.node AS doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.root
                                  ORDER BY d.n_chars DESC, c.node) AS rn,
               COUNT(*) OVER (PARTITION BY c.root) AS n_docs
        FROM comp c JOIN documents d ON d.doc_id = c.node)
      SELECT root, doc_id AS canonical_doc,
             CAST(n_chars AS BIGINT) AS canonical_chars,
             CAST(n_docs AS BIGINT) AS n_docs
      FROM scored WHERE rn = 1 ORDER BY root""")),

    // ---- dd10: benchmark decontamination — flag training docs sharing
    // any 3-word shingle with a held-out benchmark slice (the split is
    // tx07-style deterministic hashing, so both engines carve identical
    // sides with no coordination). The join is shuffle-by-shingle; the
    // benchmark side is the small one by construction (5% here; real
    // benchmark suites are ≪ the corpus), so AQE broadcasts it at scale
    // and the training corpus is never re-partitioned twice.
    QueryDef("dd10_decontaminate", (s, d) => {
      val doc = docs(s, d)
      val bucket = h28(col("doc_id").cast("string")) % 20
      val bsh = shinglesOf(doc.filter(bucket === 0))
        .select(col("doc_id").as("bench_id"), col("sh"))
      val tsh = shinglesOf(doc.filter(bucket =!= 0))
      tsh.join(bsh, "sh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("sh")).as("n_shared_shingles"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
        .orderBy("doc_id")
    }, Some("""
      WITH bench AS (SELECT doc_id, text FROM documents
                     WHERE (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7))::BIGINT) % 20 = 0),
      train AS (SELECT doc_id, text FROM documents
                WHERE (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7))::BIGINT) % 20 <> 0),
      bsh AS (SELECT DISTINCT doc_id AS bench_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS sh
              FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
                    FROM (SELECT doc_id, string_split(text,' ') AS ws FROM bench
                          WHERE len(string_split(text,' ')) >= 3))),
      tsh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS sh
              FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
                    FROM (SELECT doc_id, string_split(text,' ') AS ws FROM train
                          WHERE len(string_split(text,' ')) >= 3)))
      SELECT t.doc_id, COUNT(DISTINCT t.sh) AS n_shared_shingles,
             COUNT(DISTINCT b.bench_id) AS n_bench_docs
      FROM tsh t JOIN bsh b ON t.sh = b.sh
      GROUP BY 1 ORDER BY doc_id""")),

    // ---- dd13: BLOOM-PRUNED decontamination — dd10's contamination
    // semantics (any shared 3-shingle with the benchmark slice), but the
    // shape that wins when the training corpus is 100 TB and the benchmark
    // is not: the benchmark shingle set collapses to a ~1 MB bloom filter
    // (one tiny all-to-one aggregate), every training shingle probes the
    // broadcast bloom at scan time, and ONLY the might_contain survivors
    // enter the shuffle join — the exact-confirm semi-join then discards
    // bloom false positives, so the result is exactly dd10's doc set, while
    // the big exchange carries the contaminated sliver instead of every
    // shingle in the corpus. (Catalyst's own InjectRuntimeFilter builds
    // this plan for selective joins; here it is explicit and unconditional
    // because the pruning side is known small by construction.)
    QueryDef("dd13_bloom_decontaminate", (s, d) => {
      import org.apache.spark.sql.GraftShims
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      val doc = docs(s, d)
      val bucket = h28(col("doc_id").cast("string")) % 20
      val bsh = shinglesOf(doc.filter(bucket === 0)).select("sh").distinct()
      val tsh = shinglesOf(doc.filter(bucket =!= 0))
      // ~1.2 MB bloom: 10M bits for ≤500k benchmark shingles (~2% fp at
      // capacity; fp rate only costs confirm-join traffic, never accuracy)
      val bf = bsh.agg(GraftShims.columnOf(new BloomFilterAggregate(
          GraftShims.catalystExpressionOf(s, xxhash64(col("sh"))),
          Literal(500000L), Literal(10L * 1000 * 1000)).toAggregateExpression())
        .as("bf"))
      // might_contain demands a constant or scalar-subquery bloom (the
      // runtime-filter contract): the one-row aggregate rides in as a
      // ScalarSubquery, evaluated once and broadcast as a literal.
      val candidates = tsh
        .filter(GraftShims.columnOf(new BloomFilterMightContain(
          org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
            bf.queryExecution.analyzed),
          GraftShims.catalystExpressionOf(s, xxhash64(col("sh"))))))
        .select("doc_id", "sh")
      candidates.join(bsh, Seq("sh"), "left_semi")
        .select("doc_id").distinct().orderBy("doc_id")
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

    // ---- tx09: repetition metrics (the Gopher-style quality rules that
    // catch boilerplate/spam): per-doc duplicate-bigram fraction and
    // top-bigram share. Bigrams stay NON-distinct (repetition is the
    // signal); two hash-aggs with map-side combine, exchange carries one
    // row per (doc, distinct bigram), never per token.
    QueryDef("tx09_repetition", (s, d) => {
      val bg = docs(s, d)
        .withColumn("ws", split(col("text"), " "))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(sequence(lit(1), size(col("ws")) - 1)).as("i"),
          col("ws"))
        .select(col("doc_id"), concat_ws(" ", element_at(col("ws"), col("i")),
          element_at(col("ws"), col("i") + 1)).as("bg"))
      bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_bigrams"), count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_count"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
          floor((col("n_bigrams") - col("n_distinct")).cast("double")
            / col("n_bigrams") * 10000).cast("long").as("dup_x1e4"),
          floor(col("top_count").cast("double") / col("n_bigrams") * 10000)
            .cast("long").as("top_x1e4"))
        .orderBy("doc_id")
    }, Some("""
      WITH bg AS (
        SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
              FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents
                    WHERE len(string_split(text,' ')) >= 2))),
      c AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      st AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                    COUNT(*) AS n_distinct, MAX(c) AS top_count
             FROM c GROUP BY 1)
      SELECT doc_id, n_bigrams, n_distinct,
             CAST(FLOOR(CAST(n_bigrams - n_distinct AS DOUBLE)/n_bigrams*10000) AS BIGINT) AS dup_x1e4,
             CAST(FLOOR(CAST(top_count AS DOUBLE)/n_bigrams*10000) AS BIGINT) AS top_x1e4
      FROM st ORDER BY doc_id""")),

    // ---- tx10: PII-style token redaction — mask every token matching a
    // deny pattern, count redactions, fingerprint the scrubbed text (the
    // output a scrub pass would write; md5 keeps the gate row narrow).
    // Token-level regex, so Java and RE2 regex semantics cannot diverge
    // on boundary/overlap behavior.
    QueryDef("tx10_pii_redact", (s, d) => {
      val pat = "^(key|hash|secret|token)$"
      val ws = split(col("text"), " ")
      docs(s, d).select(col("doc_id"),
        size(filter(ws, w => w.rlike(pat))).as("n_redacted"),
        md5(array_join(transform(ws,
          w => when(w.rlike(pat), lit("<redacted>")).otherwise(w)), " ")
          .cast("binary")).as("redacted_fp"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             CAST(len(list_filter(string_split(text,' '),
                  w -> regexp_matches(w, '^(key|hash|secret|token)$'))) AS INTEGER) AS n_redacted,
             md5(array_to_string(list_transform(string_split(text,' '),
                  w -> CASE WHEN regexp_matches(w, '^(key|hash|secret|token)$')
                       THEN '<redacted>' ELSE w END), ' ')) AS redacted_fp
      FROM documents ORDER BY doc_id""")),

    // ---- tx11: exact stratified sampling — top 20% per language by md5
    // rank, fully deterministic and re-derivable (tx07's property, but
    // with exact per-stratum fractions). The window sorts WITHIN each
    // stratum; few-huge-strata skew is real at 100 TB, where the same
    // result comes from the two-phase form: per-stratum count (one agg)
    // + hash-rank threshold filter — no global sort. This query states
    // the semantics; tx07 is the coordination-free scale variant.
    QueryDef("tx11_stratified_sample", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      docs(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
        .filter(col("rn") <= ceil(col("n") * 0.2))
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy("lang", "rn")
    }, Some("""
      WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents)
      SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn FROM ranked
      WHERE rn <= CEIL(n * 0.2) ORDER BY lang, rn""")),

    // ---- dd07: end-to-end dedup pipeline — exact-dup keep-list (min
    // doc_id per fingerprint) applied back to the corpus, surviving-corpus
    // stats by language. The composition a training-data pipeline actually
    // runs: fingerprint -> keeper join -> filtered stats, all shuffle-by-key
    QueryDef("dd07_dedup_pipeline", (s, d) => {
      val doc = docs(s, d)
      val keep = doc
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      doc.join(keep, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy("lang")
    }, Some("""
      WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents JOIN keep USING (doc_id)
      GROUP BY lang ORDER BY lang""")),

    // ---- tx05: quality-filter corpus reduction — the tx02 signals applied
    // as a keep/drop decision, per-language survival stats
    QueryDef("tx05_quality_filter", (s, d) => {
      val ws = split(col("text"), " ")
      val stopArr = array(stopwords.map(lit): _*)
      docs(s, d)
        .withColumn("n_tokens", size(ws))
        .withColumn("stop_ratio",
          size(filter(ws, w => array_contains(stopArr, w))).cast("double") / size(ws))
        .withColumn("uniq_ratio",
          size(array_distinct(ws)).cast("double") / size(ws))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("n_tokens") >= 20 && col("stop_ratio") < lit(0.4)
            && col("uniq_ratio") >= lit(0.3), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, COUNT(*) AS n_total,
             CAST(SUM(CASE WHEN len(string_split(text,' ')) >= 20
               AND CAST(len(list_filter(string_split(text,' '),
                    w -> list_contains(['the','a','of','and','to','in'], w))) AS DOUBLE)
                   / len(string_split(text,' ')) < 0.4
               AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                   / len(string_split(text,' ')) >= 0.3
               THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- tx06: corpus n-gram statistics — top-20 3-word shingles by
    // document frequency (shuffle-by-shingle with map-side combine, then a
    // tiny top-k; the frequent-pattern mining shape at corpus scale)
    QueryDef("tx06_top_ngrams", (s, d) => {
      shinglesOf(docs(s, d))
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("sh"))
        .limit(20)
    }, Some(s"""
      WITH ${shinglesSql.format(Long.MaxValue)}
      SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh
      ORDER BY df DESC, sh LIMIT 20""")),

    // ---- tx07: deterministic hash sampling — the scalable way to carve a
    // reproducible p% training-data subsample: bucket by md5(doc_id), keep
    // bucket 0 of 10. No RNG state, no coordination, any engine and any
    // partitioning produces the same sample — the property that matters
    // when the sample must be re-derivable months later over 100 TB.
    QueryDef("tx07_hash_sample", (s, d) => {
      docs(s, d)
        .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
          .cast("long") % 10 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, lang, n_chars FROM documents
      WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,7))::BIGINT) % 10 = 0
      ORDER BY doc_id""")),

    // ---- tx08: regex token analysis — per-language counts of tokens
    // matching a pattern (vowel-initial), the regexp-over-tokens shape a
    // PII/filter pass runs. explode + rlike stays in codegen; the exchange
    // carries one row per (doc, matched?) partial count, not per token.
    QueryDef("tx08_regex_tokens", (s, d) => {
      docs(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[aeiou]"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_vowel_tokens"),
          countDistinct(col("w")).as("n_distinct"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, COUNT(*) AS n_vowel_tokens, COUNT(DISTINCT w) AS n_distinct
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[aeiou]')
      GROUP BY 1 ORDER BY lang""")),

    // ---- tx12: TF-IDF top term per document — the corpus-statistics
    // operator keyword extraction and relevance filters build on. Exact
    // integer tf·N with ONE double division (identical op order in both
    // engines); the corpus size N joins in on a constant key as a
    // broadcast hash join (never a nested loop), df by term is the
    // shuffle — vocabulary-sized, the same exchange tx06 rides.
    QueryDef("tx12_tfidf_top_term", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val words = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfx = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n")).withColumn("k", lit(1))
      val scored = tf.join(dfx, "w").withColumn("k", lit(1))
        .join(broadcast(n), "k")
        .withColumn("score_x1e4",
          floor((col("tf") * col("n") * 10000L).cast("double") / col("df"))
            .cast("long"))
      val w = Window.partitionBy("doc_id").orderBy(col("score_x1e4").desc, col("w"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("w").as("top_term"), col("score_x1e4"))
        .orderBy("doc_id")
    }, Some("""
      WITH words AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
      dfx AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM documents),
      scored AS (
        SELECT doc_id, tf.w,
               CAST(FLOOR(CAST(tf*n*10000 AS DOUBLE)/df) AS BIGINT) AS score_x1e4
        FROM tf JOIN dfx USING (w), n),
      ranked AS (
        SELECT doc_id, w, score_x1e4,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY score_x1e4 DESC, w) AS rn
        FROM scored)
      SELECT doc_id, w AS top_term, score_x1e4 FROM ranked
      WHERE rn = 1 ORDER BY doc_id""")),

    // ---- dd12: shingle CONTAINMENT pairs — the asymmetric near-dup
    // measure Jaccard misses: a short doc quoted inside a long one has
    // low Jaccard (union is huge) but containment |A∩B|/min(|A|,|B|)
    // near 1. Same bucketed machinery as dd02 (shared intersection join,
    // same hot-shingle cap), different denominator.
    QueryDef("dd12_containment_pairs", (s, d) => {
      cappedPairCounts(shingles(s, d, 120), maxShingleDocFreq)
        .select(col("ida"), col("idb"),
          floor(col("c").cast("double") / least(col("sa_n"), col("sb_n")) * 10000)
            .cast("long").as("cont_x1e4"))
        .filter(col("cont_x1e4") >= 500)
        .orderBy("ida", "idb")
    }, Some(s"""
      WITH ${shinglesSql.format(120)},
      keep AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
               WHERE df <= $maxShingleDocFreq),
      fsh AS (SELECT doc_id, sh.sh AS sh FROM sh JOIN keep USING (sh)),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM fsh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS c
        FROM fsh a JOIN fsh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT ida, idb,
             CAST(FLOOR(CAST(c AS DOUBLE)/LEAST(sa.n, sb.n)*10000) AS BIGINT) AS cont_x1e4
      FROM common JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
      WHERE CAST(FLOOR(CAST(c AS DOUBLE)/LEAST(sa.n, sb.n)*10000) AS BIGINT) >= 500
      ORDER BY ida, idb""")),

    // ---- tx13: bigram-fluency scoring — the LM-style quality filter
    // shape: score each doc by how common its bigrams are in the corpus
    // (spam/boilerplate scores low on natural-bigram frequency, gibberish
    // scores near zero). Two shuffles: corpus bigram df (vocabulary-
    // sized, map-side combined) and the per-doc re-join; the division is
    // the single double op, identically ordered in both engines.
    QueryDef("tx13_bigram_fluency", (s, d) => {
      val bg = docs(s, d)
        .withColumn("ws", split(col("text"), " "))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(sequence(lit(1), size(col("ws")) - 1)).as("i"),
          col("ws"))
        .select(col("doc_id"), concat_ws(" ", element_at(col("ws"), col("i")),
          element_at(col("ws"), col("i") + 1)).as("bg"))
      val dfx = bg.groupBy("bg").agg(count(lit(1)).as("df"))
      bg.join(dfx, "bg")
        .groupBy("doc_id")
        .agg(sum(col("df")).as("sum_df"), count(lit(1)).as("n_bg"))
        .select(col("doc_id"),
          floor(col("sum_df").cast("double") * 100 / col("n_bg"))
            .cast("long").as("fluency_x100"))
        .orderBy("doc_id")
    }, Some("""
      WITH bg AS (
        SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
              FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents
                    WHERE len(string_split(text,' ')) >= 2))),
      dfx AS (SELECT bg, COUNT(*) AS df FROM bg GROUP BY 1)
      SELECT doc_id,
             CAST(FLOOR(CAST(SUM(df) AS DOUBLE) * 100 / COUNT(*)) AS BIGINT) AS fluency_x100
      FROM bg JOIN dfx USING (bg)
      GROUP BY 1 ORDER BY doc_id""")),

    // ---- dd11: near-dup dedup APPLIED end-to-end — the composition a
    // production pipeline ships: MinHash-LSH pairs → connected components
    // → drop every non-root member → surviving-corpus stats. The drop is
    // a broadcast-able anti-join against the (tiny) non-keeper list; at
    // 100 TB the component labels come from the same StarCC run dd09
    // makes, and the anti-join is the only extra exchange.
    QueryDef("dd11_neardup_dedup_apply", (s, d) => {
      val doc = docs(s, d).filter(col("doc_id") < 200)
      val drop = nearDupClusters(s, d)
        .filter(col("doc_id") =!= col("root")) // keep each cluster's min id
        .select("doc_id")
      doc.join(drop, Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy("lang")
    }, Some(s"""
      WITH RECURSIVE docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      ${minhashPairsSql("docs200")},
      edges AS (SELECT ida AS src, idb AS dst FROM pairs
                UNION SELECT idb, ida FROM pairs),
      verts AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, lbl) AS (
        SELECT node, node FROM verts
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      dropd AS (SELECT node AS doc_id FROM
                  (SELECT node, MIN(lbl) AS root FROM reach GROUP BY node)
                WHERE node <> root)
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents d LEFT JOIN dropd USING (doc_id)
      WHERE d.doc_id < 200 AND dropd.doc_id IS NULL
      GROUP BY lang ORDER BY lang""")),

    // ---- dd04: SimHash — 28-bit signature from word hashes, near-dup
    // pairs by hamming distance (bit_count of xor). Candidate pairs come
    // from a 5-band LSH bucket join, NOT an all-pairs cartesian: by
    // pigeonhole, two signatures within hamming <= 4 differ in at most 4
    // of the 5 bands, so they agree exactly on at least one band — the
    // banded equi-join finds every qualifying pair with zero recall loss,
    // and the n² compare never materializes (VERDICT r1 item 2).
    QueryDef("dd04_simhash_hamming", (s, d) => {
      // 56-bit signature from two independently salted 28-bit word hashes.
      // The r11 shape (28-bit sig, 6-bit bands) had only 64 values per
      // band, so candidates grew as n²/64 — the sf1 sweep measured 150M
      // candidate pairs from 50k docs. A 14-bit band space (16384 values)
      // keeps buckets person-sized through sf10; at larger corpora the
      // band width is the knob (64-bit sigs, 16-bit bands).
      // both 28-bit halves come from ONE md5 (hex chars 1-7 and 8-14):
      // the digest is 128 bits, and the second call per word was 30% of
      // the whole pipeline's wall-clock (r12, sf1)
      val words = docs(s, d)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
        .withColumn("md", md5(col("w").cast("binary")))
        .select(col("doc_id"),
          conv(substring(col("md"), 1, 7), 16, 10).cast("long").as("h1"),
          conv(substring(col("md"), 8, 7), 16, 10).cast("long").as("h2"))
      // one-pass signature via the custom SimHashAgg aggregate: one input
      // row per (doc, word) with 56 longs of group state, instead of the
      // 56-rows-per-word bit explode (the relational form the DuckDB
      // oracle still uses — ~2.8B exploded rows at sf10 vs ~50M here)
      val sig = words.groupBy("doc_id")
        .agg(graft.functions.SimHashAgg.simhash_agg(col("h1"), col("h2"))
          .as("simhash"))
      // 4 bands x 14 bits: hamming <= 3 implies >= 1 exactly-equal band
      val banded = sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map { bi =>
          struct(lit(bi).as("band"),
            shiftright(col("simhash"), bi * 14).bitwiseAND(lit(16383L)).as("bits"))
        }: _*)).as("bb"))
        .select(col("doc_id"), col("simhash"),
          col("bb.band").as("band"), col("bb.bits").as("bits"))
      val x = banded.as("x"); val y = banded.as("y")
      val cand = x.join(y, col("x.band") === col("y.band")
          && col("x.bits") === col("y.bits") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"),
          col("x.simhash").as("sa"), col("y.simhash").as("sb"))
        .distinct() // a pair can collide on several bands
      cand
        .select(col("ida"), col("idb"),
          bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy("ida", "idb")
    }, Some("""
      WITH words AS (
        SELECT DISTINCT doc_id, w FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
                                        FROM documents)),
      hs AS (SELECT doc_id, ('0x' || substr(md5(w),1,7))::BIGINT AS h1,
                    ('0x' || substr(md5(w),8,7))::BIGINT AS h2
             FROM words),
      bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (CASE WHEN b < 28 THEN h1 >> b ELSE h2 >> (b - 28) END) & 1 = 1
                        THEN 1 ELSE -1 END) AS score
        FROM hs, generate_series(0, 55) t(b) GROUP BY doc_id, b),
      sig AS (
        SELECT doc_id, CAST(SUM(CASE WHEN score >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id),
      banded AS (
        SELECT doc_id, simhash, band,
               (simhash >> (band*14)) & 16383 AS bits
        FROM sig, generate_series(0, 3) t(band)),
      cand AS (
        SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb,
               x.simhash AS sa, y.simhash AS sb
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id)
      SELECT ida, idb, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
      FROM cand WHERE bit_count(xor(sa, sb)) <= 3
      ORDER BY ida, idb""")),

    // ---- dd14: NORMALIZED exact dedup — the "fuzzy-exact" pass every web
    // pipeline runs before MinHash (RefinedWeb/C4 style): lowercase, strip
    // non-alphanumerics, collapse whitespace, THEN fingerprint. Catches
    // case/punctuation variants dd01's byte-exact md5 treats as distinct.
    // Same scale shape as dd01: the normalization is pure codegen string
    // ops inside the scan, the exchange carries one (fp, doc) row per doc,
    // map-side combine collapses same-partition dup groups first.
    // Engine-portable by construction (ADVICE r8): non-ASCII is stripped
    // BEFORE lower(), so the only case-folding exercised is ASCII A-Z →
    // a-z, where Java (Spark) and utf8proc (DuckDB) agree bit-for-bit —
    // no dependence on locale-sensitive Unicode folding (İ, ß, …).
    QueryDef("dd14_normalized_dedup", (s, d) => {
      val norm = trim(regexp_replace(
        lower(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")), " +", " "))
      docs(s, d)
        .select(col("doc_id"), md5(norm.cast("binary")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .orderBy("fp")
    }, Some("""
      SELECT md5(trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')),
                                     ' +', ' ', 'g'))) AS fp,
             COUNT(*) AS n, MIN(doc_id) AS keeper
      FROM documents GROUP BY 1 ORDER BY fp""")),

    // ---- tx14: token-budget sequence chunking — the pretraining prep step
    // that turns documents into fixed-budget training sequences (64-token
    // chunks here): each doc explodes into ceil(n/64) chunk rows carrying
    // the chunk's span and the md5 fingerprint of its text. Integer-only
    // arithmetic end to end; the explode happens inside codegen off one
    // scan, no shuffle at all until the final presentation sort. At 100 TB
    // this is a pure map stage — chunk rows stream straight into the
    // downstream writer with zero exchanges.
    QueryDef("tx14_chunk_spans", (s, d) => {
      val budget = 64
      docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("n", size(col("ws")))
        .select(col("doc_id"), col("ws"), col("n"),
          explode(sequence(lit(0), expr(s"(n + ${budget - 1}) div $budget") - 1))
            .as("chunk_idx"))
        .withColumn("tok_start", col("chunk_idx") * budget + 1)
        .withColumn("tok_end", least(col("n"), (col("chunk_idx") + 1) * budget))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("tok_start").cast("long").as("tok_start"),
          col("tok_end").cast("long").as("tok_end"),
          md5(array_join(slice(col("ws"), col("tok_start"),
            col("tok_end") - col("tok_start") + 1), " ").cast("binary")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx")
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
                        len(string_split(text, ' ')) AS n FROM documents),
      chunks AS (
        SELECT doc_id, ws, n, unnest(generate_series(0, (n + 63) // 64 - 1)) AS chunk_idx
        FROM t)
      SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             CAST(chunk_idx * 64 + 1 AS BIGINT) AS tok_start,
             CAST(LEAST(n, (chunk_idx + 1) * 64) AS BIGINT) AS tok_end,
             md5(array_to_string(ws[(chunk_idx * 64 + 1):LEAST(n, (chunk_idx + 1) * 64)], ' ')) AS chunk_fp
      FROM chunks ORDER BY doc_id, chunk_idx""")),

    // ---- dd15: MinHash estimator quality — the dedup twin of sim08's
    // recall gate: per LSH candidate pair, the signature-agreement
    // estimate (agree/8) next to the exact shingle Jaccard, so the
    // 8-hash/4-band configuration's accuracy is itself a verifiable
    // query. agree/8 is a dyadic rational, so floor(x*1e4) is bit-equal
    // in both engines; the exact side is the uncapped intersection join
    // restricted to the bounded 200-doc slice (at scale the candidate
    // set, not the corpus, bounds the exact-confirm join — the standard
    // LSH-then-verify shape).
    QueryDef("dd15_minhash_quality", (s, d) => {
      val mhs = minhashSignatures(docsBounded(s, d, 200))
      val cands = bandPairsFromSignatures(mhs).select("ida", "idb")
      val est = cands
        .join(mhs.as("ma"), col("ida") === col("ma.doc_id"))
        .join(mhs.as("mb"), col("idb") === col("mb.doc_id"))
        .select(col("ida"), col("idb"),
          (0 until 8).map(j =>
            when(col(s"ma.m$j") === col(s"mb.m$j"), 1).otherwise(0))
            .reduce(_ + _).cast("int").as("agree"))
      val exact = cappedPairCounts(shingles(s, d, 200), Int.MaxValue)
      est.join(exact, Seq("ida", "idb"), "left")
        .select(col("ida"), col("idb"), col("agree"),
          floor(col("agree").cast("double") / 8 * 10000).cast("long").as("est_x1e4"),
          coalesce(floor(col("c").cast("double") / (col("sa_n") + col("sb_n") - col("c")) * 10000)
            .cast("long"), lit(0L)).as("jac_x1e4"))
        .orderBy("ida", "idb")
    }, Some(s"""
      WITH docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      ${minhashPairsSql("docs200")},
      est AS (
        SELECT p.ida, p.idb,
               (${(0 until 8).map(j =>
                 s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")}) AS agree
        FROM pairs p JOIN mh a ON p.ida = a.doc_id JOIN mh b ON p.idb = b.doc_id),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT e.ida AS ida, e.idb AS idb, CAST(e.agree AS INTEGER) AS agree,
             CAST(FLOOR(CAST(e.agree AS DOUBLE) / 8 * 10000) AS BIGINT) AS est_x1e4,
             COALESCE(CAST(FLOOR(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 10000) AS BIGINT), 0)
               AS jac_x1e4
      FROM est e
      LEFT JOIN common ON e.ida = common.ida AND e.idb = common.idb
      LEFT JOIN sz sa ON e.ida = sa.doc_id
      LEFT JOIN sz sb ON e.idb = sb.doc_id
      ORDER BY ida, idb""")),

    // ---- tx15: sequence packing (the T5/concat-and-split shape) — docs
    // are concatenated in doc_id order WITHIN EACH LANGUAGE and the token
    // stream is split into 4096-token bins: each doc lands at (bin,
    // offset) = divmod(running-sum-before-doc, 4096). The per-lang window
    // cumsum is the packing plan itself — one shuffle on lang, then a
    // sorted scan; partitioning by lang (or any sharding key) is what
    // keeps the inherently-sequential prefix sum parallel at 100 TB (a
    // global pack order would serialize the corpus through one task).
    // Integer-only arithmetic; token counts via the native token_stats.
    QueryDef("tx15_pack_bins", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          graft.functions.TokenStats.token_stats(col("text"))
            .getItem(0).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("start", col("cum") - col("n_tokens")) // tokens before this doc
        .select(col("doc_id"), col("lang"), col("n_tokens").cast("long").as("n_tokens"),
          expr("start div 4096").cast("long").as("bin_id"),
          (col("start") % 4096).cast("long").as("bin_offset"))
        .orderBy("lang", "doc_id")
    }, Some("""
      WITH toks AS (
        SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      packed AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM toks)
      SELECT doc_id, lang, n_tokens,
             CAST((cum - n_tokens) // 4096 AS BIGINT) AS bin_id,
             CAST((cum - n_tokens) % 4096 AS BIGINT) AS bin_offset
      FROM packed ORDER BY lang, doc_id""")),

    // ---- dd16: boilerplate n-gram detection (the Gopher/MassiveText
    // repeated-n-gram filter): 5-gram spans that appear in >= 3 DISTINCT
    // documents are boilerplate candidates (headers, footers, license
    // blurbs) to strip before training. Scale shape: the per-doc gram SET
    // is built MAP-SIDE (array_distinct inside the scan projection — no
    // set-semantics exchange like dd02's shingle distinct), so the only
    // shuffle carries one (gram, doc) row per distinct gram per doc into
    // a map-side-combined count. Document frequency == plain COUNT after
    // the per-doc dedup, never COUNT(DISTINCT).
    QueryDef("dd16_boilerplate_ngrams", (s, d) => {
      val grams = docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 5)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(ws) - 5), i -> concat_ws(' ', slice(ws, i + 1, 5)))")))
          .as("gram"))
      grams.groupBy("gram").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3)
        .orderBy(col("df").desc, col("gram"))
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                 WHERE len(string_split(text, ' ')) >= 5),
      g AS (SELECT DISTINCT doc_id,
                   ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS gram
            FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-4)) AS i FROM w))
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
      FROM g GROUP BY 1 HAVING COUNT(*) >= 3 ORDER BY df DESC, gram""")),

    // ---- tx16: Zipf vocabulary table — the tokenizer-construction view of
    // the corpus: per-word frequency, Zipf rank, and cumulative corpus
    // coverage in ppm (what "top-k vocab covers 99.x% of tokens" is read
    // off of). The word count is a map-side-combined groupBy over the
    // token explode (corpus-sized input, vocab-sized output); the rank and
    // running-coverage window then runs over the VOCAB relation, which is
    // orders of magnitude smaller than the corpus — the single-partition
    // global-order window is bounded by vocab size (~1e6 rows at web
    // scale), not by the 100 TB corpus. Integer ppm: exact in both engines.
    QueryDef("tx16_zipf_vocab", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val freq = docs(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val wOrd = Window.orderBy(col("freq").desc, col("word"))
      freq
        .withColumn("rank", row_number().over(wOrd))
        .withColumn("cum", sum(col("freq")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(freq.agg(sum(col("freq")).as("t"))))
        .select(col("word"), col("freq"),
          col("rank").cast("int").as("rank"),
          expr("(cum * 1000000) div t").as("cov_ppm"))
        .orderBy("rank")
    }, Some("""
      WITH wds AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      freq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM wds
               WHERE len(word) > 0 GROUP BY 1),
      tot AS (SELECT SUM(freq) AS t FROM freq),
      r AS (SELECT word, freq,
                   ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rank,
                   SUM(freq) OVER (ORDER BY freq DESC, word
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM freq)
      SELECT word, freq, CAST(rank AS INTEGER) AS rank,
             CAST((cum * 1000000) // t AS BIGINT) AS cov_ppm
      FROM r, tot ORDER BY rank""")),

    // ---- dd17: edit-distance near-dup confirm — the second LSH-then-
    // verify shape (dd15 verifies with Jaccard; real pipelines confirming
    // SMALL edits use Levenshtein): MinHash-LSH proposes candidate pairs,
    // the exact confirm runs ONLY on candidates, and Spark's 3-arg
    // levenshtein(l, r, threshold) bounds the DP to the O(k·n) band and
    // early-abandons above k — per-pair cost is capped at 100 TB even for
    // long documents (it returns -1 above the threshold, filtered here).
    // The oracle recomputes the unbounded distance and post-filters; kept
    // rows carry identical distances by the threshold contract.
    QueryDef("dd17_editdist_confirm", (s, d) => {
      val d200 = docs(s, d).filter(col("doc_id") < 200).select("doc_id", "text")
      val cands = minhashBandPairs(d200).select("ida", "idb")
      cands
        .join(d200.select(col("doc_id").as("ida"), col("text").as("ta")), "ida")
        .join(d200.select(col("doc_id").as("idb"), col("text").as("tb")), "idb")
        .select(col("ida"), col("idb"),
          levenshtein(col("ta"), col("tb"), 50).cast("int").as("dist"))
        .filter(col("dist") >= 0)
        .orderBy("ida", "idb")
    }, Some(s"""
      WITH docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      ${minhashPairsSql("docs200")},
      confirmed AS (
        SELECT p.ida, p.idb, levenshtein(a.text, b.text) AS dist
        FROM pairs p
        JOIN docs200 a ON a.doc_id = p.ida
        JOIN docs200 b ON b.doc_id = p.idb)
      SELECT ida, idb, CAST(dist AS INTEGER) AS dist
      FROM confirmed WHERE dist <= 50 ORDER BY ida, idb""")),

    // ---- tx17: BPE merge-candidate mining — the first iteration of BPE
    // tokenizer training: the most frequent adjacent character pairs,
    // weighted by word frequency. The 100 TB shape is the point: the
    // corpus-sized scan collapses to the VOCABULARY in the first exchange
    // (explode words → map-side-combined count), and all character-level
    // work runs on distinct words only — a corpus 1000× bigger with the
    // same vocabulary does no more pair work, which is why real BPE
    // trainers (GPT-2's, SentencePiece) all pre-aggregate to word counts.
    QueryDef("tx17_bpe_merge_pairs", (s, d) => {
      val words = docs(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .filter(length(col("word")) >= 2)
      words
        .select(col("n"), explode(
          expr("transform(sequence(1, char_length(word)-1), i -> substr(word, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("total"))
        .orderBy(col("total").desc, col("pair"))
        .limit(20)
    }, Some("""
      WITH words AS (
        SELECT w AS word, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY 1),
      pairs AS (
        SELECT substr(word, i, 2) AS pair, CAST(SUM(n) AS BIGINT) AS total
        FROM (SELECT word, n, unnest(generate_series(1, len(word)-1)) AS i
              FROM words WHERE len(word) >= 2)
        GROUP BY 1)
      SELECT pair, total FROM pairs ORDER BY total DESC, pair LIMIT 20""")),

    // ---- tx18: quality-filter ATTRITION report — tx05 answers "how many
    // docs survive"; this answers the debugging question every pipeline
    // run starts with: WHICH rule kills how many docs, per source. Rules
    // are the Gopher/RefinedWeb shapes (token-count bounds, mean-token-
    // length bounds, minimum stopword evidence, distinct-token ratio),
    // with bounds placed to discriminate on this corpus (the published
    // mean-length bound [3,10] is kept verbatim — passing ~all docs is
    // itself the signal that the corpus is prose-like). All rule inputs
    // are exact ints or single IEEE divisions, so both engines agree
    // bit-for-bit at the thresholds. One scan, one source-sized exchange.
    QueryDef("tx18_gopher_attrition", (s, d) => {
      val ws = split(col("text"), " ")
      val stopArr = array(stopwords.map(lit): _*)
      def fails(p: Column) = sum(when(!p, 1L).otherwise(0L))
      val doc = docs(s, d)
        .withColumn("ntok", size(ws))
        .withColumn("meanlen", length(col("text")).cast("double") / size(ws))
        .withColumn("nstop", size(filter(ws, w => array_contains(stopArr, w))))
        .withColumn("uniq", size(array_distinct(ws)).cast("double") / size(ws))
        .withColumn("p1", col("ntok") >= 25 && col("ntok") <= 100000)
        .withColumn("p2", col("meanlen") >= 3.0 && col("meanlen") <= 10.0)
        .withColumn("p3", col("nstop") >= 2)
        .withColumn("p4", col("uniq") >= 0.45)
      doc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          fails(col("p1")).as("f_len"), fails(col("p2")).as("f_meanlen"),
          fails(col("p3")).as("f_stop"), fails(col("p4")).as("f_uniq"),
          sum(when(col("p1") && col("p2") && col("p3") && col("p4"), 1L)
            .otherwise(0L)).as("n_keep"))
        .orderBy("source")
    }, Some("""
      WITH scored AS (
        SELECT source,
               len(string_split(text,' ')) AS ntok,
               CAST(length(text) AS DOUBLE)/len(string_split(text,' ')) AS meanlen,
               len(list_filter(string_split(text,' '),
                   w -> list_contains(['the','a','of','and','to','in'], w))) AS nstop,
               CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                 / len(string_split(text,' ')) AS uniq
        FROM documents),
      flags AS (
        SELECT source,
               (ntok >= 25 AND ntok <= 100000) AS p1,
               (meanlen >= 3.0 AND meanlen <= 10.0) AS p2,
               (nstop >= 2) AS p3, (uniq >= 0.45) AS p4
        FROM scored)
      SELECT source, COUNT(*) AS n_total,
             CAST(SUM(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS f_len,
             CAST(SUM(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS f_meanlen,
             CAST(SUM(CASE WHEN NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS f_stop,
             CAST(SUM(CASE WHEN NOT p4 THEN 1 ELSE 0 END) AS BIGINT) AS f_uniq,
             CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      FROM flags GROUP BY source ORDER BY source""")),

    // ---- dd18: dedup cluster-size HISTOGRAM — the multiplicity report a
    // dedup run is judged by ("how much of the corpus is duplicated N
    // ways"): dd09's LSH→connected-components clusters bucketed by size,
    // plus the singleton row (docs in no candidate pair) so every doc is
    // accounted for. Cluster sizes from edges are ≥2 by construction, so
    // the singleton row is exactly the anti-join remainder. Scale: the
    // histogram is a two-level aggregate over the (already tiny) cluster
    // relation; the heavy lifting is dd09's banded candidate generation,
    // never all-pairs.
    QueryDef("dd18_cluster_size_histogram", (s, d) => {
      val d200 = docs(s, d).filter(col("doc_id") < 200).select("doc_id")
      val comp = nearDupClusters(s, d)
      val multi = comp.groupBy(col("root")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
      val single = d200.join(comp.select("doc_id"), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_clusters"))
        .select(lit(1L).as("csize"), col("n_clusters"),
          col("n_clusters").as("n_docs"))
        .filter(col("n_clusters") > 0)
      multi.unionByName(single).orderBy("csize")
    }, Some(s"""
      WITH RECURSIVE docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      ${minhashPairsSql("docs200")},
      edges AS (SELECT ida AS src, idb AS dst FROM pairs
                UNION SELECT idb, ida FROM pairs),
      verts AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, lbl) AS (
        SELECT node, node FROM verts
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      comp AS (SELECT node, MIN(lbl) AS root FROM reach GROUP BY node),
      sizes AS (SELECT root, COUNT(*) AS csize FROM comp GROUP BY 1),
      multi AS (SELECT csize, COUNT(*) AS n_clusters, CAST(SUM(csize) AS BIGINT) AS n_docs
                FROM sizes GROUP BY 1),
      single AS (SELECT CAST(1 AS BIGINT) AS csize, COUNT(*) AS n_clusters,
                        COUNT(*) AS n_docs
                 FROM docs200 WHERE doc_id NOT IN (SELECT node FROM comp)
                 HAVING COUNT(*) > 0)
      SELECT csize, n_clusters, n_docs FROM multi
      UNION ALL SELECT csize, n_clusters, n_docs FROM single
      ORDER BY csize""")),

    // ---- tx21: curriculum stage assignment — training-ORDER prep: docs
    // ranked by a quality signal (tx02's distinct-token ratio, integer-
    // quantized) and cut into 4 equal stages per language with NTILE, the
    // easy→hard curriculum shape. The per-lang PARTITION BY is the scale
    // lever (tx15's discipline): each language sorts independently, so no
    // global single-partition sort exists; at 100 TB the same stages come
    // from approx-quantile cutpoints instead of an exact ntile, with this
    // exact version as the certification oracle. NTILE fan-out is
    // deterministic: total order within lang via (score, doc_id).
    QueryDef("tx21_curriculum_stages", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ws = split(col("text"), " ")
      val score = floor(size(array_distinct(ws)).cast("double") / size(ws) * 10000)
        .cast("long")
      val doc = docs(s, d).select(col("doc_id"), col("lang"), score.as("score"))
      val w = Window.partitionBy(col("lang")).orderBy(col("score"), col("doc_id"))
      doc.withColumn("stage", ntile(4).over(w))
        .groupBy(col("lang"), col("stage"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .orderBy("lang", "stage")
    }, Some("""
      WITH scored AS (
        SELECT doc_id, lang,
               CAST(FLOOR(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                    / len(string_split(text,' ')) * 10000) AS BIGINT) AS score
        FROM documents),
      staged AS (
        SELECT lang, score,
               NTILE(4) OVER (PARTITION BY lang ORDER BY score, doc_id) AS stage
        FROM scored)
      SELECT lang, CAST(stage AS INTEGER) AS stage, COUNT(*) AS n_docs,
             MIN(score) AS min_score, MAX(score) AS max_score
      FROM staged GROUP BY lang, stage ORDER BY lang, stage""")),

    // ---- tx23: curriculum stages via APPROX-QUANTILE CUTPOINTS — the
    // 100 TB path tx21's comment promises. tx21's exact NTILE needs a
    // per-lang sort (a window over the corpus); here the per-lang quartile
    // cutpoints come from one approx_percentile aggregation (sketch state,
    // no sort), and stages are assigned by broadcast-join + comparison.
    // Certification is the q34/q37 accuracy-invariant pattern against
    // tx21's exact NTILE: NTILE(4) group sizes are a pure function of the
    // per-lang count (floor(n/4)+1 for the first n%4 stages), and a
    // value-based quartile split can deviate from them only by cutpoint
    // tie-runs (<= max per-score frequency per boundary) plus the sketch's
    // rank error (n/accuracy) — so each stage count must sit within
    // 2*mt + 2*(n div accuracy) + 4 of the exact NTILE size. The oracle
    // states the invariant from exact arithmetic. No window anywhere: the
    // only corpus-sized exchanges are two map-side-combined aggregations.
    QueryDef("tx23_curriculum_cutpoints", (s, d) => {
      val ws = split(col("text"), " ")
      val score = floor(size(array_distinct(ws)).cast("double") / size(ws) * 10000)
        .cast("long")
      val scored = docs(s, d).select(col("lang"), score.as("score"))
      val cuts = scored.groupBy("lang").agg(
        expr("approx_percentile(score, array(0.25D, 0.5D, 0.75D), 1000000)").as("cs"))
      // per-lang total + max tie-run: keyed by (lang, score) first, so the
      // state is vocabulary-bounded (scores live on a 0..10000 grid)
      val mtab = scored.groupBy(col("lang"), col("score")).agg(count(lit(1)).as("c"))
        .groupBy("lang").agg(max(col("c")).as("mt"), sum(col("c")).as("n"))
      val staged = scored.join(broadcast(cuts), "lang")
        .select(col("lang"),
          (lit(1) + (col("score") > element_at(col("cs"), 1)).cast("int")
                  + (col("score") > element_at(col("cs"), 2)).cast("int")
                  + (col("score") > element_at(col("cs"), 3)).cast("int")).as("stage"))
      val counts = staged.groupBy(col("lang"), col("stage")).agg(count(lit(1)).as("cnt"))
      // all 4 stages per lang, zero-filled: an empty stage must surface as
      // a row (and still satisfy the bound), not vanish from the output
      val frame = mtab.crossJoin(broadcast(
        s.range(1, 5).select(col("id").cast("int").as("stage"))))
      frame.join(counts, Seq("lang", "stage"), "left")
        .na.fill(0L, Seq("cnt"))
        .select(col("lang"), col("stage"),
          expr("n div 4 + (CASE WHEN stage <= n % 4 THEN 1 ELSE 0 END)").as("ntile_n"),
          (abs(col("cnt") - expr("n div 4 + (CASE WHEN stage <= n % 4 THEN 1 ELSE 0 END)"))
            <= col("mt") * 2 + expr("2 * (n div 1000000)") + 4).as("ok"))
        .orderBy("lang", "stage")
    }, Some("""
      WITH n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang)
      SELECT lang, CAST(st AS INTEGER) AS stage,
             CAST(n // 4 + CASE WHEN st <= n % 4 THEN 1 ELSE 0 END AS BIGINT) AS ntile_n,
             TRUE AS ok
      FROM n CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS st)
      ORDER BY lang, stage""")),

    // ---- tx22: CSV round-trip — the other universal interchange format
    // next to tx19's JSONL: documents through Spark's csv sink then a
    // schema-EXPLICIT, header-aware csv source read (quote/escape
    // machinery engaged even though this corpus never needs it), proven
    // by the same per-lang aggregate the parquet oracle computes.
    QueryDef("tx22_csv_io", (s, d) => {
      val tmp = TempDirs.create("graft_csv_")
      // quote/escape pinned explicitly on BOTH sides, and the read is
      // multiLine: a document containing \n is written as a quoted
      // multi-line field, which the default line-based reader would split
      // mid-field (ADVICE r11). multiLine makes each FILE the split unit —
      // the inherent CSV-with-embedded-newlines tradeoff at scale; the
      // write side controls file count, so parallelism is preserved.
      docs(s, d).select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").option("header", "true")
        .option("quoteAll", "true")
        .option("quote", "\"").option("escape", "\"").csv(tmp)
      val back = s.read.schema("doc_id LONG, text STRING, lang STRING")
        .option("header", "true").option("multiLine", "true")
        .option("quote", "\"").option("escape", "\"").csv(tmp)
      back.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             MIN(doc_id) AS first_doc
      FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- tx24: DOMAIN-MIXTURE rebalancing — the dataset-mixing stage a
    // training pipeline runs after selection: per source domain, its token
    // share of the corpus and the repeat (upsampling) factor that would
    // rebalance sampling to uniform domain weight, all in exact integer
    // basis points (floats at a floor boundary are not hash-stable; a
    // rank-preserving integer div is). Scale shape: one corpus scan with
    // the codegen token_stats kernel feeding a map-side-combined groupBy
    // to a DOMAIN-sized relation (a handful of rows at any corpus size);
    // the share/target window runs over that tiny aggregate, never the
    // corpus — so at 100 TB this costs exactly one scan + one exchange.
    QueryDef("tx24_domain_mixture", (s, d) => {
      val perSource = docs(s, d)
        .select(col("source"),
          element_at(graft.functions.TokenStats.token_stats(col("text")), 1).as("ntok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      val w = Window.partitionBy() // over the domain-sized aggregate only
      perSource
        .withColumn("tot_tokens", sum(col("n_tokens")).over(w))
        .withColumn("n_sources", count(lit(1)).over(w))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("(n_tokens * 10000) div tot_tokens").as("share_x1e4"),
          expr("10000 div n_sources").as("target_x1e4"),
          expr("(tot_tokens * 10000) div (n_sources * n_tokens)").as("repeat_x1e4"))
        .orderBy("source")
    }, Some("""
      WITH per AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
                     COUNT(*) AS n_sources FROM per)
      SELECT source, n_docs, n_tokens,
             CAST((n_tokens * 10000) // tot_tokens AS BIGINT) AS share_x1e4,
             CAST(10000 // n_sources AS BIGINT) AS target_x1e4,
             CAST((tot_tokens * 10000) // (n_sources * n_tokens) AS BIGINT) AS repeat_x1e4
      FROM per, tot ORDER BY source""")),

    // ---- tx20: DSIR-style importance weighting — data SELECTION, the
    // pipeline stage after cleaning and dedup: score each document by how
    // much its unigrams look like a target slice (here lang='en') vs the
    // raw corpus, and keep the top-k. Published DSIR uses hashed-n-gram
    // log-likelihood ratios; this is the same estimator with add-one
    // smoothing kept in INTEGER arithmetic (per-word weight =
    // (tf_target+1)*10000 div (tf_raw+V) — rank-preserving for selection,
    // and exact in any engine; a float log at a floor boundary is not).
    // Scale shape: both frequency tables and the weight table are
    // VOCABULARY-sized (broadcast side of the scoring join); the only
    // corpus-sized exchanges are the word explode's map-side-combined
    // counts and the per-doc sum — tx12's TF-IDF discipline.
    QueryDef("tx20_dsir_weights", (s, d) => {
      val words = docs(s, d)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      // BOTH frequency tables in one corpus pass (a conditional partial
      // count rides the same exchange); Catalyst does not CSE repeated
      // subtree uses, so a separate tf_target groupBy would re-explode
      // the whole corpus — measured as 2 extra corpus scans in the plan
      val tf = words.groupBy("w").agg(count(lit(1)).as("tf_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tf_t"))
      // V via a global window over the VOCAB-sized tf relation: a separate
      // .agg would make Catalyst execute tf twice (no CSE across subtree
      // reuses — measured as a full extra corpus explode+exchange)
      val wt = tf
        .withColumn("vocab", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("w"),
          expr("((tf_t + 1L) * 10000L) div (tf_r + vocab)").as("wt"))
      words.join(broadcast(wt), "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("wt")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
    }, Some("""
      WITH words AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
      tf_r AS (SELECT w, COUNT(*) AS tf_r FROM words GROUP BY 1),
      tf_t AS (SELECT w, COUNT(*) AS tf_t FROM words WHERE lang = 'en' GROUP BY 1),
      v AS (SELECT COUNT(*) AS vocab FROM tf_r),
      wt AS (SELECT w, ((COALESCE(tf_t, 0) + 1) * 10000) // (tf_r + vocab) AS wt
             FROM tf_r LEFT JOIN tf_t USING (w), v),
      scores AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS score
                 FROM words JOIN wt USING (w) GROUP BY 1)
      SELECT doc_id, score FROM scores
      ORDER BY score DESC, doc_id LIMIT 50""")),

    // ---- tx19: JSONL round-trip — newline-delimited JSON is the
    // interchange format every LLM data pipeline ingests and publishes;
    // this drives Spark's json SINK then SOURCE (schema-explicit read: no
    // inference pass — at 100 TB, schema inference is a full extra scan)
    // and proves the documents table survives the trip byte-exactly via
    // the same per-lang aggregate the parquet oracle computes. Unique temp
    // dir per invocation: Verify runs queries concurrently.
    QueryDef("tx19_jsonl_io", (s, d) => {
      val tmp = TempDirs.create("graft_jsonl_")
      docs(s, d).select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").json(tmp)
      val back = s.read.schema("doc_id LONG, text STRING, lang STRING").json(tmp)
      back.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             MIN(doc_id) AS first_doc
      FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- dd20: URL canonicalization + dedup — the FIRST dedup stage of a
    // web-crawl pipeline (before any content hashing): collapse tracking
    // params, fragments, default ports, case and trailing-slash variants
    // of the same resource, keep the earliest doc per canonical URL. The
    // messy URL is constructed deterministically from doc fields (the
    // testdata carries no URL column) with doc_id-dependent case/port/
    // query/fragment noise, so canonicalization must actually handle every
    // variant to reach the oracle's hash. All codegen string ops
    // (concat/when/lower/regexp_replace) evaluated AT THE SCAN — the only
    // exchange is the final canonical-key groupBy, the exact exact-dedup
    // shape (dd01) with normalization fused into the map side.
    QueryDef("dd20_url_dedup", (s, d) => {
      val raw = docs(s, d).select(col("doc_id"), concat(
        when(col("doc_id") % 2 === 0, lit("https://WWW.")).otherwise(lit("HTTPS://www.")),
        col("source"), lit(".example.com"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/"), col("lang"), lit("/doc/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 2 === 1, lit("/?utm_source=feed&ref=mail")).otherwise(lit("/")),
        when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit(""))).as("raw_url"))
      val canon = raw.select(col("doc_id"),
        regexp_replace(regexp_replace(regexp_replace(
          lower(col("raw_url")), "#.*$", ""), "\\?.*$", ""), ":443/", "/").as("u"))
        .select(col("doc_id"), regexp_replace(col("u"), "/$", "").as("canon_url"))
      canon.groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .orderBy("canon_url")
    }, Some("""
      WITH raw AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.' ELSE 'HTTPS://www.' END)
               || source || '.example.com'
               || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
               || '/' || lang || '/doc/' || CAST(doc_id % 50 AS VARCHAR)
               || (CASE WHEN doc_id % 2 = 1 THEN '/?utm_source=feed&ref=mail' ELSE '/' END)
               || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS raw_url
        FROM documents),
      canon AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(raw_url), '#.*$', ''),
                   '\?.*$', ''),
                 ':443/', '/'),
               '/$', '') AS canon_url
        FROM raw)
      SELECT canon_url, COUNT(*) AS n, MIN(doc_id) AS keeper
      FROM canon GROUP BY 1 ORDER BY canon_url""")),

    // ---- tx25: unigram-LM quality score (a KenLM-perplexity proxy the
    // pipeline can compute without a model file): token surprisal is
    // 40 - (floor(log2 tf)+1) bits where tf is the corpus term frequency
    // — length(bin(tf)) makes the log EXACT integer arithmetic in both
    // engines, so the score is hash-stable (float log2 would tie-break
    // differently at powers of two). A doc's score is its mean token
    // surprisal ×1e4; high = rare-token-heavy (gibberish or novelty),
    // low = stopword soup — both tails are what the filter inspects.
    // Shape at 100 TB: one corpus explode → map-side-combined tf
    // aggregate (vocab-sized) → token-partitioned join back (co-partitions
    // with the aggregate's exchange) → per-doc sum; top-20 rides
    // TakeOrderedAndProject, no global sort materialized.
    QueryDef("tx25_unigram_surprisal", (s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = toks.groupBy("w").agg(count(lit(1)).as("tf"))
      val bits = tf.select(col("w"), (lit(40) - length(bin(col("tf")))).cast("long").as("bits"))
      toks.join(bits, "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("bits")).as("sum_bits"))
        .select(col("doc_id"), col("n_tok"),
          floor(col("sum_bits") * 10000 / col("n_tok")).cast("long").as("score_x1e4"))
        .orderBy(col("score_x1e4").desc, col("doc_id")).limit(20)
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      tf AS (SELECT w, COUNT(*) AS tf FROM toks GROUP BY w),
      bits AS (SELECT w, CAST(40 - length(bin(tf)) AS BIGINT) AS bits FROM tf),
      per_doc AS (
        SELECT doc_id, COUNT(*) AS n_tok, SUM(bits) AS sum_bits
        FROM toks JOIN bits USING (w) GROUP BY doc_id)
      SELECT doc_id, n_tok,
             CAST(FLOOR(sum_bits * 10000 / n_tok) AS BIGINT) AS score_x1e4
      FROM per_doc ORDER BY score_x1e4 DESC, doc_id LIMIT 20""")),

    // ---- dd21: INCREMENTAL ingest dedup — the daily-pipeline shape dd01
    // is the within-corpus half of: a new batch (docs with id%4==3 —
    // a deterministic slice at every sf) arrives against an existing
    // corpus index (the other 75%), and each batch doc is kept only if
    // its fingerprint is (a) absent from the corpus (anti-join on fp)
    // and (b) the first of its kind WITHIN the batch (min-id per fp).
    // Emitted as the per-lang attrition ledger (tx18's debugging shape):
    // arrived = dup_vs_corpus + dup_within_batch + kept, every row
    // accounted for. At 100 TB the corpus side of the anti-join is the
    // persisted fingerprint index partitioned on fp — the batch shuffles
    // by fp and joins co-partitioned; a bloom prefilter (dd13's runtime-
    // filter contract) cuts the probe traffic before the exact join.
    QueryDef("dd21_incremental_dedup", (s, d) => {
      val all = docs(s, d).select(col("doc_id"), col("lang"),
        md5(col("text").cast("binary")).as("fp"))
      val corpus = all.filter(col("doc_id") % 4 =!= 3).select("fp").distinct()
      val batch = all.filter(col("doc_id") % 4 === 3)
      val fresh = batch.join(corpus, Seq("fp"), "left_anti")
      val kept = fresh.groupBy("fp")
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
      val keptByLang = fresh.join(kept,
          fresh("fp") === kept("fp") && fresh("doc_id") === kept("keeper"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      val arrived = batch.groupBy("lang").agg(count(lit(1)).as("n_arrived"))
      val freshByLang = fresh.groupBy("lang").agg(count(lit(1)).as("n_fresh"))
      arrived.join(freshByLang, Seq("lang"), "left")
        .join(keptByLang, Seq("lang"), "left")
        .select(col("lang"), col("n_arrived"),
          (col("n_arrived") - coalesce(col("n_fresh"), lit(0L))).as("n_dup_corpus"),
          (coalesce(col("n_fresh"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
            .as("n_dup_batch"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    }, Some("""
      WITH al AS (SELECT doc_id, lang, md5(text) AS fp FROM documents),
      corpus AS (SELECT DISTINCT fp FROM al WHERE doc_id % 4 <> 3),
      batch AS (SELECT * FROM al WHERE doc_id % 4 = 3),
      fresh AS (SELECT * FROM batch WHERE fp NOT IN (SELECT fp FROM corpus)),
      kept AS (SELECT fp, MIN(doc_id) AS keeper FROM fresh GROUP BY fp),
      kept_lang AS (
        SELECT f.lang, COUNT(*) AS n_kept
        FROM fresh f JOIN kept k ON f.fp = k.fp AND f.doc_id = k.keeper
        GROUP BY 1),
      arrived AS (SELECT lang, COUNT(*) AS n_arrived FROM batch GROUP BY 1),
      fresh_lang AS (SELECT lang, COUNT(*) AS n_fresh FROM fresh GROUP BY 1)
      SELECT a.lang, a.n_arrived,
             a.n_arrived - COALESCE(fl.n_fresh, 0) AS n_dup_corpus,
             COALESCE(fl.n_fresh, 0) - COALESCE(kl.n_kept, 0) AS n_dup_batch,
             COALESCE(kl.n_kept, 0) AS n_kept
      FROM arrived a
      LEFT JOIN fresh_lang fl ON a.lang = fl.lang
      LEFT JOIN kept_lang kl ON a.lang = kl.lang
      ORDER BY a.lang""")),

    // ---- dd22: train/valid SPLIT-LEAKAGE audit — the eval-integrity
    // check that is the reason dedup exists at all: after a stable-hash
    // 80/20 split (h28(doc_id) — reshuffling the corpus can never move a
    // doc across the split), count the validation docs whose exact
    // fingerprint also appears in train. Any nonzero row is memorized
    // eval data. Shapes: one scan computes split + fp at the map side;
    // the train-fp set probes the valid side with a semi-join on fp
    // (dd21's anti-join class, inverted) — at 100 TB both sides partition
    // by fp and the join is co-partitioned, with a bloom prefilter
    // (dd13) cutting probe traffic.
    QueryDef("dd22_split_leakage", (s, d) => {
      val tagged = docs(s, d).select(col("doc_id"), col("lang"),
        md5(col("text").cast("binary")).as("fp"),
        (h28(col("doc_id").cast("string")) % 10 < 8).as("is_train"))
      val trainFps = tagged.filter(col("is_train")).select("fp").distinct()
      val valid = tagged.filter(!col("is_train"))
      val contaminated = valid.join(trainFps, Seq("fp"), "left_semi")
        .groupBy("lang").agg(count(lit(1)).as("n_contaminated"))
      valid.groupBy("lang").agg(count(lit(1)).as("n_valid"))
        .join(contaminated, Seq("lang"), "left")
        .select(col("lang"), col("n_valid"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          floor(coalesce(col("n_contaminated"), lit(0L)).cast("double")
            / col("n_valid") * 10000).cast("long").as("leak_x1e4"))
        .orderBy("lang")
    }, Some("""
      WITH tagged AS (
        SELECT doc_id, lang, md5(text) AS fp,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,7))::BIGINT) % 10 < 8
                 AS is_train
        FROM documents),
      train_fps AS (SELECT DISTINCT fp FROM tagged WHERE is_train),
      valid AS (SELECT * FROM tagged WHERE NOT is_train),
      cont AS (
        SELECT lang, COUNT(*) AS n_contaminated
        FROM valid WHERE fp IN (SELECT fp FROM train_fps) GROUP BY 1),
      v AS (SELECT lang, COUNT(*) AS n_valid FROM valid GROUP BY 1)
      SELECT v.lang, v.n_valid,
             COALESCE(c.n_contaminated, 0) AS n_contaminated,
             CAST(FLOOR(CAST(COALESCE(c.n_contaminated, 0) AS DOUBLE)
                        / v.n_valid * 10000) AS BIGINT) AS leak_x1e4
      FROM v LEFT JOIN cont c ON v.lang = c.lang
      ORDER BY v.lang""")),

    // ---- dd23: incremental NEAR-dup probe — dd21's daily-pipeline shape
    // lifted from exact fingerprints to MinHash-LSH: the arriving batch
    // (dd21's doc_id%4==3 split) probes the CORPUS BAND-KEY INDEX (the
    // distinct (band, key) relation of the other 75%) and a new doc is a
    // near-dup hit if any of its 4 band keys already exists in the index.
    // This is the production shape: the index is corpus-sized but tiny per
    // doc (4 keys), probes are equi-joins on (band, key) — never doc×doc —
    // and the same signature machinery (minhash_agg + shared band
    // derivation) serves batch dedup (dd03/dd08), clustering (dd09), and
    // this incremental path, so index and probe cannot drift. Docs with
    // <3 words have no shingles, hence no keys, hence count as clean in
    // both engines. Per-lang arrival ledger, every doc accounted for.
    QueryDef("dd23_incremental_neardup", (s, d) => {
      val doc = docs(s, d)
      val corpusBands = bandKeysOfSig(minhashSigRaw(
          doc.filter(col("doc_id") % 4 =!= 3)))
        .select("band", "key").distinct()
      val batchBands = bandKeysOfSig(minhashSigRaw(
        doc.filter(col("doc_id") % 4 === 3)))
      val hits = batchBands.join(corpusBands, Seq("band", "key"))
        .select("doc_id").distinct().withColumn("hit", lit(1L))
      doc.filter(col("doc_id") % 4 === 3).select(col("doc_id"), col("lang"))
        .join(hits, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_arrived"),
          sum(coalesce(col("hit"), lit(0L))).as("n_near_dup"))
        .select(col("lang"), col("n_arrived"), col("n_near_dup"),
          (col("n_arrived") - col("n_near_dup")).as("n_clean"))
        .orderBy("lang")
    }, Some(s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                    WHERE len(string_split(text, ' ')) >= 3))),
      hs AS (SELECT doc_id, ('0x' || substr(md5(sh),1,7))::BIGINT AS h FROM sh),
      mh AS (SELECT doc_id,
        ${A.zip(B).zipWithIndex.map { case ((a, b), j) =>
          s"MIN((h*$a + $b) % $P) AS m$j" }.mkString(", ")}
        FROM hs GROUP BY doc_id),
      bands AS (
        ${(0 until 4).map(bi =>
          s"SELECT doc_id, $bi AS band, CAST(m${2 * bi} AS VARCHAR) || '_' || CAST(m${2 * bi + 1} AS VARCHAR) AS key FROM mh")
          .mkString(" UNION ALL ")}),
      cb AS (SELECT DISTINCT band, key FROM bands WHERE doc_id % 4 <> 3),
      hits AS (SELECT DISTINCT b.doc_id FROM bands b JOIN cb USING (band, key)
               WHERE b.doc_id % 4 = 3)
      SELECT d.lang, COUNT(*) AS n_arrived,
             CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_near_dup,
             CAST(COUNT(*) - SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clean
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 4 = 3
      GROUP BY 1 ORDER BY d.lang""")),

    // ---- dd24: CONTENT-DEFINED CHUNK dedup — the sub-document tier
    // below dd01 (whole-doc) and dd03 (near-dup): real corpora share
    // boilerplate passages inside otherwise-distinct documents, and
    // training pipelines dedup at chunk granularity to reclaim them.
    // Chunking is content-defined on the WORD stream (a boundary after
    // any word with h28(word) % 8 == 0) so chunk identity is
    // shift-invariant — inserting a paragraph early in a doc cannot
    // re-chunk the rest, the CDC property that makes rsync/LBFS-style
    // dedup work. Chunk text is rebuilt deterministically (sort by word
    // position), fingerprinted with md5, and an instance is a duplicate
    // iff it is not its fingerprint's keeper (min (doc_id, chunk_id) —
    // exact struct-min, no ties). Per-lang ledger counts instances,
    // duplicates, and the chars sub-doc dedup would reclaim. Plan: one
    // corpus scan → doc-local window (prefix-sum of boundary flags —
    // millions of independent doc partitions at 100 TB, no global sort)
    // → chunk-keyed aggregates; the fp groupBy is the only corpus-wide
    // exchange, exactly like dd01.
    QueryDef("dd24_cdc_chunk_dedup", (s, d) => {
      // r16b: the whole doc-local pipeline (posexplode words → h28
      // boundary flag → doc_id-window prefix sum → (doc_id, chunk)
      // groupBy rebuild) is one native scan expression now —
      // cdc_chunks(text, 8) emits the finished chunk ledger per row
      // (CdcChunksSpec pins bit-equality with the staged derivation).
      // That deletes the two word-level corpus exchanges the staged
      // shape paid; the fp window below is dd24's ONLY exchange.
      val chunks = docs(s, d)
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.CdcChunks.cdc_chunks(col("text"), 8)).as("c"))
        .select(col("doc_id"), col("lang"),
          col("c.chunk").as("chunk"), col("c.fp").as("fp"),
          col("c.n_chars").as("n_chars"))
      // keeper = lexicographic min (doc_id, chunk) via ONE row_number
      // window over fp (r16 rework): the previous groupBy-keeper +
      // fp-join planned the expensive explode→window→chunk pipeline
      // TWICE (broadcast build + probe) and at 100 TB the keeper
      // relation is corpus-sized, forcing a second full shuffle; the
      // window shape is a single fp exchange over the chunk ledger with
      // no recompute. Struct ordering (doc_id, chunk) has no overflow
      // regime at any scale (a packed-long key would wrap past
      // chunk >= 1e8 / doc_id ~ 9.2e10 where DuckDB raises).
      val wfp = Window.partitionBy(col("fp"))
        .orderBy(col("doc_id"), col("chunk"))
      chunks
        .withColumn("dup",
          when(row_number().over(wfp) > 1, 1L).otherwise(0L))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("dup")).as("n_dup_chunks"),
          sum(when(col("dup") === 1L, col("n_chars").cast("long")).otherwise(0L))
            .as("dup_chars"))
        .orderBy("lang")
    }, Some("""
      WITH idx AS (
        SELECT doc_id, lang, ws, unnest(generate_series(1, len(ws))) AS i
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)),
      words AS (
        SELECT doc_id, lang, i - 1 AS pos, ws[i] AS word
        FROM idx WHERE len(ws[i]) >= 1),
      flagged AS (
        SELECT doc_id, lang, pos, word,
               CASE WHEN ('0x' || substr(md5(word),1,7))::BIGINT % 8 = 0
                    THEN 1 ELSE 0 END AS b
        FROM words),
      chunked AS (
        SELECT doc_id, lang, pos, word,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) - b AS chunk
        FROM flagged),
      chunks AS (
        SELECT doc_id, lang, chunk,
               md5(string_agg(word, ' ' ORDER BY pos)) AS fp,
               length(string_agg(word, ' ' ORDER BY pos)) AS n_chars
        FROM chunked GROUP BY 1, 2, 3),
      scored AS (
        SELECT lang, n_chars,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY fp
                                            ORDER BY doc_id, chunk) > 1
                    THEN 1 ELSE 0 END AS dup
        FROM chunks)
      SELECT lang, COUNT(*) AS n_chunks,
             CAST(SUM(dup) AS BIGINT) AS n_dup_chunks,
             CAST(SUM(CASE WHEN dup = 1 THEN n_chars ELSE 0 END) AS BIGINT)
               AS dup_chars
      FROM scored GROUP BY 1 ORDER BY lang""")),

    // ---- dd25: EXACT-SUBSTRING dedup tier (VERDICT r14 #4) — the
    // suffix-style pass between dd01's whole-doc hash and dd24's CDC
    // chunk fingerprints: any 50-token run shared ACROSS documents is a
    // reclaimable exact substring (the "dedup long common prefixes/runs"
    // tier production pipelines run after whole-doc dedup). Shape:
    // 50-token rolling windows are fingerprinted DOC-LOCALLY inside the
    // scan (transform over sequence — no window function, no shuffle),
    // the fp groupBy finding cross-doc runs is the ONLY corpus-wide
    // exchange (bucketed equi-join, dd01's shape — never all-pairs),
    // and overlapping hit windows merge into maximal spans with a
    // gaps-and-islands pass partitioned BY DOCUMENT (millions of
    // independent doc partitions at 100 TB, no global sort). The
    // per-lang ledger reports affected docs, merged spans, and the
    // token count a substring-dedup rewrite would reclaim.
    QueryDef("dd25_substring_spans", (s, d) => {
      val W = 50
      // native one-pass window fingerprints (functions/SubstringRunFps):
      // each w-token window is a CONTIGUOUS byte span of the document
      // (split's separator is the join's space), so the md5s run in
      // place over the row bytes — no interpreted transform lambda, no
      // per-window string allocation (1.59→1.14 s at sf10m; the scan+fp
      // stage alone is 0.28 s, the rest is the fp self-join's hash
      // aggregate + islands window — BENCH_SCALING r15). NULL (sub-w
      // docs) explodes to nothing, the same structural guard as
      // minhash_sig's consumers.
      // r16b: BINARY fps through the exchange — raw 16-byte md5 is a
      // bijection of the hex fp, so the fp window's partitioning is
      // semantically identical while cargo and sort comparators halve
      // (1.64 → 1.19 s at sf10m, r16 variant F; alternative shapes
      // re-measured same-sitting and still worse: broadcast-semi 1.74 s)
      val wins = docs(s, d)
        .select(col("doc_id"), col("lang"),
          posexplode(
            graft.functions.SubstringRunFps.substring_run_fps_bin(col("text"), W))
            .as(Seq("i", "fp")))
      // a run is shared iff its fp spans >= 2 distinct docs: min<max as
      // TWO window aggregates over the fp partition (r16 rework — the
      // previous groupBy-dup + fp-join planned the scan+fp stage TWICE,
      // once into the dup aggregate and once into the probe; VERDICT
      // r15 #4). The window shape carries wins through ONE fp exchange
      // and one pass — no join, no recompute; partition width is
      // bounded by the corpus duplication rate exactly as the join
      // build side was.
      val wFp = Window.partitionBy(col("fp"))
      val hits = wins
        .withColumn("mn", min(col("doc_id")).over(wFp))
        .withColumn("mx", max(col("doc_id")).over(wFp))
        .filter(col("mn") < col("mx"))
        .select(col("doc_id"), col("lang"), col("i"))
      // gaps-and-islands: [i, i+W) spans merge while each window starts
      // at or before the running max end of the preceding ones
      val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val spans = hits
        .withColumn("ni",
          when(col("i") > coalesce(max(col("i") + W).over(wPrev), lit(-1)),
            1L).otherwise(0L))
        .withColumn("island", sum(col("ni")).over(wRun))
        .groupBy(col("doc_id"), col("lang"), col("island"))
        .agg(min(col("i")).as("s"), (max(col("i")) + W).as("e"))
      spans.groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_spans"),
          sum((col("e") - col("s")).cast("long")).as("reclaimed_tokens"))
        .orderBy("lang")
    }, Some("""
      WITH d25 AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      pos AS (
        SELECT doc_id, lang, ws, unnest(generate_series(0, len(ws) - 50)) AS i
        FROM d25 WHERE len(ws) >= 50),
      sh AS (
        SELECT doc_id, lang, i,
               md5(array_to_string(ws[i+1:i+50], ' ')) AS fp
        FROM pos),
      dup AS (SELECT fp FROM sh GROUP BY fp HAVING MIN(doc_id) < MAX(doc_id)),
      hits AS (SELECT doc_id, lang, i FROM sh JOIN dup USING (fp)),
      isl AS (
        SELECT doc_id, lang, i,
               CASE WHEN i > COALESCE(MAX(i + 50) OVER (
                      PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS ni
        FROM hits),
      isl2 AS (
        SELECT doc_id, lang, i,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS island
        FROM isl),
      spans AS (
        SELECT doc_id, lang, island, MIN(i) AS s, MAX(i) + 50 AS e
        FROM isl2 GROUP BY 1, 2, 3)
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_spans,
             CAST(SUM(e - s) AS BIGINT) AS reclaimed_tokens
      FROM spans GROUP BY 1 ORDER BY lang""")),

    // ---- dd26: LEAKAGE-FREE SPLIT ASSIGNMENT — the policy step dd09's
    // clustering and dd22's leakage DETECTION bracket: train/val/test is
    // assigned per duplicate CLUSTER (hash of the component root), never
    // per document, so near-duplicates cannot straddle a split boundary
    // by construction — the exact contamination dd22 exists to catch.
    // Shape: LSH candidate pairs (dd03's banded join) → StarCC connected
    // components → every doc (singletons included, via the left join +
    // coalesce to self) keyed by its cluster root → deterministic
    // md5-bucket of the ROOT picks the split (8/1/1), both engines
    // deriving identical buckets with no coordination (tx07's hashing
    // discipline). The per-split ledger carries a LEAK CERTIFICATE:
    // each engine independently counts docs whose cluster spans >1
    // split from ITS OWN clustering — gated to be zero on both sides,
    // not just asserted on one. At 100 TB the cluster relation is
    // cluster-sized (tiny next to the corpus), the assignment is one
    // hash projection, and the ledger is a 3-row aggregate.
    QueryDef("dd26_leakfree_split", (s, d) => {
      val comp = nearDupClusters(s, d)
      val assigned = docs(s, d).filter(col("doc_id") < 200).select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("root", coalesce(col("root"), col("doc_id")))
        .withColumn("bucket", h28(col("root").cast("string")) % 10)
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val").otherwise("test"))
      val rootSplits = assigned.groupBy("root")
        .agg(countDistinct(col("split")).as("n_splits"))
      assigned.join(rootSplits, "root")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("root")).as("n_clusters"),
          sum(col("doc_id")).as("doc_sum"),
          sum(when(col("n_splits") > 1, 1L).otherwise(0L)).as("leaky_docs"))
        .orderBy("split")
    }, Some(s"""
      WITH RECURSIVE docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      ${minhashPairsSql("docs200")},
      edges AS (SELECT ida AS src, idb AS dst FROM pairs
                UNION SELECT idb, ida FROM pairs),
      verts AS (SELECT DISTINCT src AS node FROM edges),
      reach(node, lbl) AS (
        SELECT node, node FROM verts
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      comp AS (SELECT node, MIN(lbl) AS root FROM reach GROUP BY node),
      assigned AS (
        SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS root,
               ('0x' || substr(md5(CAST(COALESCE(c.root, d.doc_id) AS VARCHAR)), 1, 7))::BIGINT % 10 AS bucket
        FROM docs200 d LEFT JOIN comp c ON c.node = d.doc_id),
      labeled AS (
        SELECT doc_id, root,
               CASE WHEN bucket < 8 THEN 'train'
                    WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
        FROM assigned),
      rs AS (SELECT root, COUNT(DISTINCT split) AS n_splits
             FROM labeled GROUP BY 1)
      SELECT split, COUNT(*) AS n_docs,
             CAST(COUNT(DISTINCT l.root) AS BIGINT) AS n_clusters,
             CAST(SUM(doc_id) AS BIGINT) AS doc_sum,
             CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS leaky_docs
      FROM labeled l JOIN rs USING (root)
      GROUP BY 1 ORDER BY split""")),

    // ---- dd27: N-GRAM OVERLAP-FRACTION decontamination — the graded
    // tier between dd10 (flag on ANY shared 3-shingle — high recall,
    // noisy on short boilerplate) and dd13 (same semantics, bloom-pruned):
    // the production method (GPT-3/PaLM-style) scores each training doc
    // by the FRACTION of its distinct 13-token windows that collide with
    // the benchmark side, and flags only docs above a threshold (>= 5%
    // here), so incidental phrase overlap survives while real benchmark
    // leakage is removed. Shape: window fingerprints come from the native
    // substring_run_fps scan expression with DOC-LOCAL dedup
    // (array_distinct — distinctness never costs an exchange), the
    // benchmark fp set is small by construction (real benchmark suites
    // are ~MBs against a 100 TB corpus) and broadcasts, so the ONLY
    // exchange is the per-doc hit aggregate, partially aggregated
    // map-side to ~one row per doc per partition. The 20·n_hit >= n_grams
    // flag is integer arithmetic — no float threshold to diverge on.
    QueryDef("dd27_ngram_decontaminate", (s, d) => {
      val W = 13
      val doc = docs(s, d)
      val bucket = h28(col("doc_id").cast("string")) % 20
      // binary fps (bijective with hex): halves the broadcast set and
      // the probe-side hash cargo — fps never leave the query
      val fps = graft.functions.SubstringRunFps
        .substring_run_fps_bin(col("text"), W)
      val bw = doc.filter(bucket === 0)
        .select(explode(array_distinct(fps)).as("fp")).distinct()
      // no isNotNull filter on the computed array (the pushdown
      // double-eval class): explode structurally drops NULL (sub-W) docs.
      // r21: explode the fps expression DIRECTLY instead of aliasing the
      // array first — the aliased shape let Catalyst infer
      // size(fps)>0/isnotnull(fps) constraints into the scan Filter, each
      // re-inlining substring_run_fps_bin, so the dominant expression ran
      // twice per train doc (plans/r21/dd27_*_before.txt node (3) vs (4)).
      // n_grams re-derives as count(*) per doc: fps are array_distinct'd,
      // so the exploded row count per doc IS size(fps). Same rows out.
      val tw = doc.filter(bucket =!= 0)
        .select(col("doc_id"), explode(array_distinct(fps)).as("fp"))
      // no broadcast HINT (dd10's discipline): a real benchmark suite is
      // ≪ the corpus and AQE broadcasts it from runtime stats; the
      // synthetic bench side here scales WITH the corpus (5% bucket), so
      // an unconditional hint would force an unbounded broadcast at
      // extreme sf — let the planner pick from measured sizes
      tw.join(bw.withColumn("hit", lit(1)), Seq("fp"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
        .filter(lit(20) * col("n_hit") >= col("n_grams"))
        .select(col("doc_id"), col("n_grams"), col("n_hit"))
        .orderBy("doc_id")
    }, Some("""
      WITH bench AS (SELECT doc_id, text FROM documents
                     WHERE (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7))::BIGINT) % 20 = 0),
      train AS (SELECT doc_id, text FROM documents
                WHERE (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7))::BIGINT) % 20 <> 0),
      bw AS (SELECT DISTINCT md5(array_to_string(ws[i+1:i+13], ' ')) AS fp
             FROM (SELECT ws, unnest(generate_series(0, len(ws) - 13)) AS i
                   FROM (SELECT string_split(text, ' ') AS ws FROM bench)
                   WHERE len(ws) >= 13)),
      tw AS (SELECT DISTINCT doc_id,
                    md5(array_to_string(ws[i+1:i+13], ' ')) AS fp
             FROM (SELECT doc_id, ws,
                          unnest(generate_series(0, len(ws) - 13)) AS i
                   FROM (SELECT doc_id, string_split(text, ' ') AS ws
                         FROM train)
                   WHERE len(ws) >= 13)),
      sc AS (SELECT t.doc_id, COUNT(*) AS n_grams, COUNT(b.fp) AS n_hit
             FROM tw t LEFT JOIN bw b USING (fp) GROUP BY 1)
      SELECT doc_id, n_grams, n_hit FROM sc
      WHERE 20 * n_hit >= n_grams ORDER BY doc_id""")),

    // ---- tx26: Count-Min-Sketch heavy hitters — the third sketch next
    // to HLL (q34) and KLL quantiles (q37), and unlike those, CUSTOM and
    // fully oracle-checkable: cms_agg (functions/CmsAgg.scala, the 9th
    // SQL-registered custom function) builds one corpus-wide 4×256
    // counter grid whose hash rows reuse MinHashAgg's (A, B, P) integer
    // family, so DuckDB can recompute the ENTIRE sketch — the gate
    // checks the estimates exactly, not just the ε-bound. The top-10
    // exact-count tokens are then probed against the sketch
    // (min over 4 counters); CMS guarantees est >= true. One corpus
    // scan feeds both the sketch (8 KB of mergeable state — the
    // streaming/distributed heavy-hitter shape) and the exact tf
    // aggregate that certifies it.
    QueryDef("tx26_cms_heavy_hitters", (s, d) => {
      val toks = docs(s, d).select(explode(split(col("text"), " ")).as("w"))
        .withColumn("h", h28(col("w")))
      val sketch = toks.agg(graft.functions.CmsAgg.cms_agg(col("h")).as("sk"))
      val top = toks.groupBy("w")
        .agg(count(lit(1)).as("n"), min(col("h")).as("h"))
        .orderBy(col("n").desc, col("w")).limit(10)
      val est = (0 until 4).map { j =>
        val bucket = ((col("h") * A(j) + B(j)) % P) % 256
        element_at(col("sk"), (bucket + j * 256 + 1).cast("int"))
      }.reduce(least(_, _))
      top.crossJoin(broadcast(sketch))
        .select(col("w"), col("n"), est.as("cms_est"))
        .orderBy(col("n").desc, col("w"))
    }, Some(s"""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      hs AS (SELECT w, ('0x' || substr(md5(w),1,7))::BIGINT AS h FROM toks),
      cj AS (SELECT * FROM (VALUES ${(0 until 4).map(j =>
        s"(${j}, ${A(j)}, ${B(j)})").mkString(", ")}) AS t(j, aj, bj)),
      counters AS (
        SELECT j, ((h*aj + bj) % $P) % 256 AS bucket, COUNT(*) AS c
        FROM hs CROSS JOIN cj GROUP BY 1, 2),
      tf AS (SELECT w, COUNT(*) AS n, MIN(h) AS h FROM hs GROUP BY w),
      top AS (SELECT * FROM tf ORDER BY n DESC, w LIMIT 10),
      est AS (
        SELECT top.w, top.n, MIN(c.c) AS cms_est
        FROM top CROSS JOIN cj
        JOIN counters c ON c.j = cj.j
         AND c.bucket = ((top.h*cj.aj + cj.bj) % $P) % 256
        GROUP BY 1, 2)
      SELECT w, n, CAST(cms_est AS BIGINT) AS cms_est
      FROM est ORDER BY n DESC, w""")),

    // ---- tx27: BPE ENCODE — the missing half of the tokenizer story
    // (r12 ask #2): tx17 MINES merge pairs; this APPLIES them. Vocab =
    // the top-50 corpus-frequency-weighted character pairs (tx17's
    // mining, widened), then every word is greedily tokenized left-to-
    // right longest-match-first: at position i, emit the 2-char merge if
    // substr(word,i,2) is in the vocab, else the single char. Output per
    // doc: word/token/merge counts plus tok_cksum = Σ h28(token) over the
    // emitted token sequence — the checksum pins the EXACT segmentation
    // (which tokens, not just how many), so a greedy-order bug cannot
    // hash-match.
    //
    // 100 TB shape: the corpus scan collapses to DISTINCT words at the
    // first exchange and ALL character-level work (the encode fold) runs
    // once per distinct word — a 1000× bigger corpus with the same
    // vocabulary does no more encode work, exactly like real tokenizer
    // pipelines that cache word→ids. The fold itself is a codegen
    // `aggregate` HOF over the char positions (pos/ntok/nmerge/cksum
    // carried as a struct; positions consumed by a merge are skipped via
    // `i < acc.pos`), the 50-pair vocab rides along as one broadcast
    // array — no UDF, no corpus-sized window, no recursion.
    //
    // The oracle is a DIFFERENT algorithm for the same function: greedy
    // merge positions have a closed relational form — merge-eligible
    // positions group into runs of consecutive indices, and greedy
    // selects every other position from each run head (single-char steps
    // visit every position between runs, so runs are independent; checked
    // by a 20k-case randomized equivalence test at design time). That
    // makes the DuckDB side pure gaps-and-islands SQL over the distinct-
    // word relation — no recursive CTE, so it stays cheap at every sf.
    QueryDef("tx27_bpe_encode", (s, d) => {
      val dw = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
      val wc = dw.groupBy("word").agg(count(lit(1)).as("n"))
      val vocab = wc.filter(length(col("word")) >= 2)
        .select(col("n"), explode(
          expr("transform(sequence(1, char_length(word)-1), i -> substr(word, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("total"))
        .orderBy(col("total").desc, col("pair")).limit(50)
        .agg(collect_list(col("pair")).as("vocab")) // one vocab-array row
      val enc = wc.select(col("word")).crossJoin(broadcast(vocab))
        .withColumn("st", expr(
          """aggregate(
               sequence(1, char_length(word)),
               named_struct('pos', 1, 'ntok', 0L, 'nmerge', 0L, 'cksum', 0L),
               (acc, i) -> CASE
                 WHEN i < acc.pos THEN acc
                 WHEN i < char_length(word) AND array_contains(vocab, substr(word, i, 2))
                   THEN named_struct('pos', i + 2, 'ntok', acc.ntok + 1L,
                     'nmerge', acc.nmerge + 1L,
                     'cksum', acc.cksum + CAST(conv(substr(md5(CAST(substr(word, i, 2) AS BINARY)), 1, 7), 16, 10) AS BIGINT))
                 ELSE named_struct('pos', i + 1, 'ntok', acc.ntok + 1L,
                     'nmerge', acc.nmerge,
                     'cksum', acc.cksum + CAST(conv(substr(md5(CAST(substr(word, i, 1) AS BINARY)), 1, 7), 16, 10) AS BIGINT))
               END)"""))
        .select(col("word"), col("st.ntok").as("ntok"),
          col("st.nmerge").as("nmerge"), col("st.cksum").as("cksum"))
      // word→encoding join: distinct-word-sized build side; AQE broadcasts
      // it when small and falls back to a shuffle hash join when the
      // vocabulary is huge — don't pin the strategy here
      dw.join(enc, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"),
          sum(col("nmerge")).as("n_merges"), sum(col("cksum")).as("tok_cksum"))
        .orderBy("doc_id")
    }, Some("""
      WITH dw AS (
        SELECT doc_id, w AS word FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 1),
      wc AS (SELECT word, COUNT(*) AS n FROM dw GROUP BY 1),
      vocab AS (
        SELECT substr(word, i, 2) AS pair, SUM(n) AS total
        FROM (SELECT word, n, unnest(generate_series(1, len(word)-1)) AS i
              FROM wc WHERE len(word) >= 2)
        GROUP BY 1 ORDER BY total DESC, pair LIMIT 50),
      hits AS (
        SELECT word, i FROM (
          SELECT word, unnest(generate_series(1, len(word)-1)) AS i
          FROM wc WHERE len(word) >= 2)
        WHERE substr(word, i, 2) IN (SELECT pair FROM vocab)),
      isl AS (SELECT word, i,
                     i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
              FROM hits),
      sel AS (SELECT word, i FROM (
                SELECT word, i, MIN(i) OVER (PARTITION BY word, grp) AS run0
                FROM isl)
              WHERE (i - run0) % 2 = 0),
      cov AS (SELECT word, i FROM sel UNION ALL SELECT word, i + 1 FROM sel),
      chars AS (SELECT word, unnest(generate_series(1, len(word))) AS i FROM wc),
      single AS (
        SELECT c.word, c.i FROM chars c
        LEFT JOIN cov ON cov.word = c.word AND cov.i = c.i
        WHERE cov.word IS NULL),
      enc AS (
        SELECT w.word,
               COALESCE(s.n1, 0) + COALESCE(m.nm, 0) AS ntok,
               COALESCE(m.nm, 0) AS nmerge,
               COALESCE(s.ck1, 0) + COALESCE(m.ckm, 0) AS cksum
        FROM wc w
        LEFT JOIN (SELECT word, COUNT(*) AS nm,
                          SUM(('0x' || substr(md5(substr(word, i, 2)), 1, 7))::BIGINT) AS ckm
                   FROM sel GROUP BY 1) m ON m.word = w.word
        LEFT JOIN (SELECT word, COUNT(*) AS n1,
                          SUM(('0x' || substr(md5(substr(word, i, 1)), 1, 7))::BIGINT) AS ck1
                   FROM single GROUP BY 1) s ON s.word = w.word)
      SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(e.ntok) AS BIGINT) AS n_tokens,
             CAST(SUM(e.nmerge) AS BIGINT) AS n_merges,
             CAST(SUM(e.cksum) AS BIGINT) AS tok_cksum
      FROM dw JOIN enc e ON dw.word = e.word
      GROUP BY 1 ORDER BY doc_id""")),

    // ---- tx28: REPETITION filter — the Gopher rule family tx18 does NOT
    // cover (tx18 checks length/stopword/uniqueness; this checks
    // self-repetition): per doc, the fraction of n-grams taken by the
    // single most frequent word 2-gram / 3-gram, in exact basis points
    // (mx·10^4 div total — no floats), dropped above the published
    // thresholds (2-gram > 20%, 3-gram > 18%). Only the top COUNT is
    // needed, not the gram itself, so there is no tie-break to keep
    // engines aligned. Plan (r14 rework, VERDICT r13 #4): the per-doc
    // gram statistics are computed by the native `repetition_stats`
    // expression (functions/RepetitionStats.scala — token_stats' sibling,
    // one interned-id pass per row inside WholeStageCodegen), so the gram
    // stream never leaves the scan task: no Generate, no doc-keyed
    // exchange — the only shuffle is the final SOURCE-sized aggregate.
    // The r13 explode-based plan shuffled the corpus-sized gram stream
    // twice and ran 2.8× DuckDB at sf10; plan-locked by PlanShapeSpec.
    // Per-source attrition ledger + summed fractions pin every doc's
    // exact basis points, not just the drop decisions.
    QueryDef("tx28_repetition_filter", (s, d) => {
      val rs = graft.functions.RepetitionStats.repetition_stats(col("text"))
      docs(s, d)
        .select(col("doc_id"), col("source"), rs.as("r"))
        .select(col("doc_id"), col("source"),
          expr("CASE WHEN r[1] > 0 THEN r[0] * 10000 div r[1] ELSE 0L END").as("f2"),
          expr("CASE WHEN r[3] > 0 THEN r[2] * 10000 div r[3] ELSE 0L END").as("f3"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("f2") > 2000 || col("f3") > 1800, 1L).otherwise(0L))
            .as("n_drop"),
          sum(col("f2")).as("sum_f2_bp"), sum(col("f3")).as("sum_f3_bp"))
        .orderBy("source")
    }, Some("""
      WITH doc AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      g2 AS (
        SELECT doc_id, mx * 10000 // tot AS f2 FROM (
          SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM (
            SELECT doc_id, g, COUNT(*) AS c FROM (
              SELECT doc_id, w[i] || ' ' || w[i+1] AS g
              FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS i
                    FROM doc WHERE len(w) >= 2))
            GROUP BY 1, 2) GROUP BY 1)),
      g3 AS (
        SELECT doc_id, mx * 10000 // tot AS f3 FROM (
          SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM (
            SELECT doc_id, g, COUNT(*) AS c FROM (
              SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
              FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
                    FROM doc WHERE len(w) >= 3))
            GROUP BY 1, 2) GROUP BY 1)),
      scored AS (
        SELECT doc.doc_id, doc.source,
               COALESCE(g2.f2, 0) AS f2, COALESCE(g3.f3, 0) AS f3
        FROM doc LEFT JOIN g2 ON doc.doc_id = g2.doc_id
                 LEFT JOIN g3 ON doc.doc_id = g3.doc_id)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN f2 > 2000 OR f3 > 1800 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_drop,
             CAST(SUM(f2) AS BIGINT) AS sum_f2_bp,
             CAST(SUM(f3) AS BIGINT) AS sum_f3_bp
      FROM scored GROUP BY 1 ORDER BY source""")),

    // ---- tx29: EPOCH SHUFFLE + SHARD ASSIGNMENT — the step between a
    // curated corpus and the trainer's data loader: each epoch gets its own
    // deterministic pseudo-random GLOBAL order (seeded md5 over epoch:doc),
    // cut into fixed-size shards with exact in-shard positions. The naive
    // global rank — row_number() OVER (ORDER BY k) — funnels the corpus
    // through ONE window partition; the scale shape used here is the
    // two-level distributed rank: rank within 256 key-prefix buckets
    // (windows of corpus/256 rows, fully parallel) + a broadcast join of
    // cumulative bucket offsets (a ≤256-row/epoch relation — its running
    // sum is a bounded-constant window, not data-sized). The oracle IS the
    // naive global row_number, so the gate proves distributed rank ==
    // global rank exactly — every position, via the per-shard
    // position-weighted checksum (sum over doc_id·(pos_in_shard+1) pins
    // the full permutation, while output stays #shards-sized).
    QueryDef("tx29_epoch_shard", (s, d) => {
      val shardSize = 100L
      val keyed = docs(s, d)
        .select(col("doc_id"),
          explode(sequence(lit(1L), lit(2L))).as("epoch"))
        .withColumn("k", md5(concat_ws(":", lit("42"), col("epoch"),
          col("doc_id")).cast("binary")))
        .withColumn("bucket", conv(substring(col("k"), 1, 2), 16, 10).cast("int"))
      val offsets = keyed.groupBy("epoch", "bucket").agg(count(lit(1)).as("n"))
        .withColumn("off",
          sum("n").over(Window.partitionBy("epoch").orderBy("bucket")) - col("n"))
        .select("epoch", "bucket", "off")
      keyed
        .withColumn("r",
          row_number().over(Window.partitionBy("epoch", "bucket").orderBy("k"))
            .cast("long") - 1L)
        .join(broadcast(offsets), Seq("epoch", "bucket"))
        .select(col("epoch"), col("doc_id"), (col("off") + col("r")).as("pos"))
        .select(col("epoch"), expr(s"pos div $shardSize").as("shard"),
          col("doc_id"), expr(s"pos % $shardSize").as("sp"))
        .groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id") * (col("sp") + 1L)).as("checksum"))
        .orderBy("epoch", "shard")
    }, Some("""
      WITH e AS (
        SELECT doc_id, epoch FROM documents,
             (SELECT unnest(generate_series(1, 2)) AS epoch)),
      keyed AS (
        SELECT epoch, doc_id,
               md5('42:' || CAST(epoch AS VARCHAR) || ':' ||
                   CAST(doc_id AS VARCHAR)) AS k FROM e),
      ranked AS (
        SELECT epoch, doc_id,
               ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k) - 1 AS pos
        FROM keyed)
      SELECT epoch, pos // 100 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(doc_id * (pos % 100 + 1)) AS BIGINT) AS checksum
      FROM ranked GROUP BY 1, 2 ORDER BY epoch, shard""")),

    // ---- tx30: CORRUPT-TOLERANT JSONL ingest — tx19 reads clean JSONL;
    // real crawled/vendored feeds are never clean, and a strict reader
    // either dies on the first bad line (FAILFAST) or silently drops rows
    // (DROPMALFORMED — the anti-pattern: at 100 TB you must ACCOUNT for
    // every discarded byte). This is the production shape: PERMISSIVE
    // mode quarantines each malformed line into the _corrupt column
    // (schema-explicit, no inference scan), good rows flow to the per-lang
    // ledger, and the quarantine row makes the loss auditable. The gate
    // INJECTS corruption deterministically (doc_id % 7 == 0 lines are
    // truncated 5 bytes — always unbalances the trailing "lang" field) so
    // the oracle predicts both populations arithmetically: a reader that
    // drops quarantined rows, double-counts them, or lets a truncated
    // line parse breaks the count or the ledger hash. The temp write is
    // the dirty-feed fixture, not the operator.
    QueryDef("tx30_jsonl_corrupt", (s, d) => {
      val tmp = TempDirs.create("graft_jsonlc_")
      docs(s, d).select(col("doc_id"), col("text"), col("lang"))
        .withColumn("j", to_json(struct(col("doc_id"), col("text"), col("lang"))))
        .select(when(col("doc_id") % 7 === 0,
            expr("substring(j, 1, length(j) - 5)")).otherwise(col("j"))
          .as("value"))
        .write.mode("overwrite").text(tmp)
      val back = s.read
        .schema("doc_id LONG, text STRING, lang STRING, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(tmp)
      // one pass: good rows ledger by lang, corrupt rows under the
      // '_quarantined' bucket (partial-parse fields of corrupt lines must
      // NOT leak into the ledger — the _corrupt guard, not lang-null,
      // decides). Also the only legal shape: Spark refuses a scan whose
      // referenced columns are ONLY the internal corrupt-record column,
      // so a separate quarantine-count branch would need a cache — at
      // 100 TB the conditional aggregate is the right plan anyway.
      back
        .groupBy(when(col("_corrupt").isNull, col("lang"))
          .otherwise(lit("_quarantined")).as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("_corrupt").isNull, length(col("text")).cast("long"))
            .otherwise(0L)).as("n_chars"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 7 <> 0 GROUP BY lang
      UNION ALL
      SELECT '_quarantined' AS lang, COUNT(*) AS n_docs, 0 AS n_chars
      FROM documents WHERE doc_id % 7 = 0
      ORDER BY lang""")),

    // ---- tx31: MULTI-ITERATION BPE TRAINER (VERDICT r14 #3) — the real
    // tokenizer-training loop tx17 (mines round 1) and tx27 (encodes a
    // static vocab) bracket: three merge rounds, each one (a) counting
    // adjacent SYMBOL pairs over the current segmentation weighted by
    // word frequency, (b) adopting the single most frequent pair
    // (ties → lexicographic, both engines binary-collate), and (c)
    // RE-SEGMENTING every word by greedy leftmost non-overlapping merge
    // before the next round — the re-segmentation between rounds is
    // exactly what the static-vocab queries couldn't exercise. Per-round
    // output: the adopted pair, its mined frequency, and the corpus
    // token count + segmentation checksum AFTER the merge (Σ n·h28(sym)
    // pins the exact symbol sequence, so a wrong merge application or a
    // round-order bug cannot hash-match).
    //
    // 100 TB shape: the corpus collapses to DISTINCT words at the first
    // exchange and every round's work is vocabulary-bounded — pair
    // counting and the merge fold run once per distinct word (persisted
    // between rounds, so round r+1 starts from r's materialized
    // segmentation, not a 3^r-deep recompute); the adopted pair is a
    // one-row broadcast. A 1000× corpus with the same vocabulary does
    // no more per-round work, exactly like production BPE trainers.
    //
    // Oracle: tx27's closed-form greedy discipline applied per round —
    // merge-eligible positions group into runs of consecutive indices
    // and greedy selects every other position from each run head, so
    // each DuckDB round is LEAD + gaps-and-islands + anti-join SQL over
    // the distinct-word relation (no recursive CTE; see bpeRoundSql).
    QueryDef("tx31_bpe_train3", (s, d) =>
      bpeTrainRounds(docs(s, d), 3), Some(s"""
      WITH wc AS (
        SELECT word, COUNT(*) AS n FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE len(word) >= 1 GROUP BY 1),
      seg1 AS (
        SELECT word, n, i AS j, substr(word, i, 1) AS sym
        FROM (SELECT word, n, unnest(generate_series(1, len(word))) AS i
              FROM wc)),
      ${bpeRoundSql(1)},
      ${bpeRoundSql(2)},
      ${bpeRoundSql(3)}
      SELECT round, pair, pair_total, n_tokens, cksum
      FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2
            UNION ALL SELECT * FROM m3)
      ORDER BY round""")),

    // ---- tx32: TRAINED-TOKENIZER SERVE — the composition the
    // mine/encode/train trio still lacked: tx31's trainer LEARNS the
    // merges, and this query APPLIES that learned vocabulary back to the
    // corpus (train → serve, the sim17 build/serve split for the
    // tokenizer story). The per-language ledger certifies the trained
    // tokenizer actually tokenizes: word occurrences, pre-encode symbol
    // count (characters), post-encode token count under the 3 learned
    // merges, and the occurrence-weighted segmentation checksum
    // (Σ h28(symbol)) that pins the EXACT per-word token sequences —
    // a serve-side greedy bug or a wrong merge order cannot hash-match.
    //
    // 100 TB shape: training collapses the corpus to distinct words at
    // the first exchange (tx31's argument); the serve side is one
    // vocabulary-sized build relation (word → ntok/cksum) joined to the
    // corpus word stream — AQE broadcasts it when small, exactly like a
    // production word→ids tokenizer cache — and the only corpus-sized
    // exchange is the per-lang aggregate's map-side-combined rollup.
    //
    // Oracle: tx31's 3-round CTE chain (bpeRoundSql) re-derives the
    // identical merges and final segmentation relationally, then joins
    // it back to the language-tagged word stream — both engines train
    // AND serve independently and must agree on the ledger.
    QueryDef("tx32_trained_encode", (s, d) => {
      val cksumOf =
        "aggregate(seg, CAST(0 AS BIGINT), (acc, x) -> acc + " +
          "CAST(conv(substr(md5(CAST(x AS BINARY)), 1, 7), 16, 10) AS BIGINT))"
      // the trained segmentation stays checkpointed until this query's
      // consumer executes (vocabulary-bounded blocks; see bpeTrain)
      val (_, seg) = bpeTrain(docs(s, d), 3)
      val enc = seg.select(col("word"),
        size(col("seg")).cast("long").as("ntok"), expr(cksumOf).as("cksum"))
      val dw = docs(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
      dw.join(enc, "word")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word")).cast("long")).as("n_chars"),
          sum(col("ntok")).as("n_tokens"),
          sum(col("cksum")).as("tok_cksum"))
        .orderBy("lang")
    }, Some(s"""
      WITH wc AS (
        SELECT word, COUNT(*) AS n FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE len(word) >= 1 GROUP BY 1),
      seg1 AS (
        SELECT word, n, i AS j, substr(word, i, 1) AS sym
        FROM (SELECT word, n, unnest(generate_series(1, len(word))) AS i
              FROM wc)),
      ${bpeRoundSql(1)},
      ${bpeRoundSql(2)},
      ${bpeRoundSql(3)},
      enc AS (
        SELECT word, COUNT(*) AS ntok,
               SUM(('0x' || substr(md5(sym), 1, 7))::BIGINT) AS cksum
        FROM seg4 GROUP BY 1),
      dwl AS (
        SELECT lang, w AS word FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 1)
      SELECT dwl.lang, COUNT(*) AS n_words,
             CAST(SUM(len(dwl.word)) AS BIGINT) AS n_chars,
             CAST(SUM(e.ntok) AS BIGINT) AS n_tokens,
             CAST(SUM(e.cksum) AS BIGINT) AS tok_cksum
      FROM dwl JOIN enc e ON dwl.word = e.word
      GROUP BY 1 ORDER BY lang"""))
  )

  /** The tx31 training loop, parameterized by round count so a scale
    * run can measure per-round cost beyond the gate's 3:
    * one certificate row per round (round, pair, pair_total, n_tokens,
    * cksum). Per-round work is vocabulary-bounded, and each round's
    * segmentation is MATERIALIZED to parquet and re-read — the
    * checkpoint-per-iteration discipline every production iterative
    * Spark job uses, because chaining r rounds of lazy plans grows
    * analysis/optimization superlinearly (measured: persist-only
    * lineage hit 27.6 s at 7 rounds and timed out at 10; materialized
    * rounds are flat — BENCH_SCALING r15). The per-round argmax pair
    * and the two certificate aggregates are 1-row collects (bounded by
    * construction, the DDL-materialization class); everything
    * corpus- or vocab-sized stays distributed. */
  private[graft] def bpeTrainRounds(docsDf: DataFrame, nRounds: Int): DataFrame = {
    val (certs, seg) = bpeTrain(docsDf, nRounds)
    seg.unpersist(blocking = false) // the certs carry the result; drop the state
    val s = docsDf.sparkSession
    import s.implicits._
    certs.toDF("round", "pair", "pair_total", "n_tokens", "cksum")
      .orderBy("round")
  }

  /** Single daemon thread for the per-round argmax overlap in
    * [[bpeTrain]]: one in-flight concurrent job is the measured sweet
    * spot (the cert and argmax jobs together already fill the tail),
    * and a daemon thread can never hold the JVM open after the driver
    * finishes. */
  private lazy val bpeArgmaxPool =
    java.util.concurrent.Executors.newSingleThreadExecutor(
      (run: Runnable) => {
        val t = new Thread(run, "bpe-argmax"); t.setDaemon(true); t
      })

  /** The trainer core, returning BOTH the per-round certificates and the
    * FINAL segmentation (word, n, seg) — tx31 consumes the certificates;
    * tx32 consumes the trained segmentation as its serve-side vocabulary
    * (the caller that keeps the seg must not unpersist it before its
    * consuming query executes; the state is vocabulary-bounded). */
  private[graft] def bpeTrain(docsDf: DataFrame, nRounds: Int)
      : (Seq[(Int, String, Long, Long, Long)], DataFrame) = {
    val cksumOf = // Σ h28(symbol) over one segmentation, as a fold
      "aggregate(seg, CAST(0 AS BIGINT), (acc, x) -> acc + " +
        "CAST(conv(substr(md5(CAST(x AS BINARY)), 1, 7), 16, 10) AS BIGINT))"
    // checkpoint-per-iteration, but via eager localCheckpoint (r16):
    // the RDD-block checkpoint truncates lineage exactly like the r15
    // parquet round-trip did (keeping Catalyst analysis flat across
    // rounds — the measured 27.6 s blowup at 7 rounds of lazy lineage),
    // while skipping two filesystem jobs per round (~0.3 s/round at
    // sf0.1, which WAS the bench floor there). The state is the
    // vocabulary segmentation — bounded by distinct words, not corpus
    // size — so executor block storage holds it at any corpus scale;
    // a lost-executor restart re-trains from the last driver-side
    // certificate, the same stance as any in-memory iterative job.
    var seg = docsDf
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("seg",
        expr("transform(sequence(1, char_length(word)), i -> substr(word, i, 1))"))
      .select("word", "n", "seg")
      .localCheckpoint()
    // distributed pair mining over a segmentation: the 1-row argmax frame
    // (a, b, total) of the most frequent adjacent symbol pair
    def bestOf(segDf: DataFrame): DataFrame =
      segDf.filter(size(col("seg")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(seg) - 1), i -> " +
            "named_struct('a', element_at(seg, i), 'b', element_at(seg, i + 1)))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("total"))
        .orderBy(col("total").desc, col("a"), col("b")).limit(1)
    val certs = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Long)]()
    // The adopted pair for round 1: 1-row argmax collect. A round can find
    // NO adjacent pair (every word already reduced to one symbol —
    // reachable on tiny corpora at high round counts, ADVICE r15):
    // training terminates there with the certificate rows produced so
    // far, instead of indexing into an empty collect. The fixed-round
    // gate oracle (tx31, 3 rounds) assumes the corpus supports its round
    // count — the sf tables do by construction.
    var next: Option[(String, String, Long)] = bestOf(seg).collect().headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    for (r <- 1 to nRounds if next.isDefined) {
      val (a, b, total) = next.get
      // greedy leftmost non-overlapping merge of (a,b), tx27's fold
      // shape but emitting the new symbol ARRAY instead of counters;
      // the pair rides in as two literal columns (r21: lit() escapes any
      // symbol safely, and dropping the former broadcast-crossJoin of a
      // 1-row pair frame removes one broadcast exchange + its job per
      // round) so the fold text stays literal-free
      val prev = seg
      seg = seg
        .withColumn("a", lit(a)).withColumn("b", lit(b))
        .withColumn("seg2", expr(
          """aggregate(
               sequence(1, size(seg)),
               named_struct('out', slice(seg, 1, 0), 'pos', 1),
               (acc, i) -> CASE
                 WHEN i < acc.pos THEN acc
                 WHEN i < size(seg) AND element_at(seg, i) = a
                      AND element_at(seg, i + 1) = b
                   THEN named_struct('out', concat(acc.out, array(concat(a, b))),
                                     'pos', i + 2)
                 ELSE named_struct('out', concat(acc.out, array(element_at(seg, i))),
                                   'pos', i + 1)
               END).out"""))
        .select(col("word"), col("n"), col("seg2").as("seg"))
        .localCheckpoint()
      // blocks of superseded rounds are dropped eagerly so a 256-round
      // training run holds exactly one segmentation in block storage
      prev.unpersist(blocking = false)
      // The round's certificate aggregates and the NEXT round's pair
      // argmax both read the just-checkpointed blocks; they stay separate
      // collects (an r21 A/B fused them through a 1-row broadcast-nested-
      // loop join and LOST ~0.25 s/query: the broadcast build job plus
      // the single-partition GlobalLimit exchange cost more than the
      // executeTake collect they replaced). They ARE overlapped (r21,
      // guide §2.6): the two jobs share no dependency — both read the
      // checkpointed vocabulary blocks — so the argmax is submitted from
      // a daemon thread while the caller runs the certificate collect,
      // and the scheduler back-fills (interleaved A/B, sf0.1: med
      // 0.721 → 0.619 s, every paired run faster; results identical).
      // ADVICE r21: the shared pool thread inherits thread-locals from
      // whichever caller FIRST created it, so the callable re-establishes
      // THIS caller's session and job-scoped local properties before
      // touching Spark (expr() parses via the active session; job-group
      // cancellation must reach the argmax job too).
      val sess = seg.sparkSession
      val sc = sess.sparkContext
      val rideAlongProps = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel", "spark.scheduler.pool")
        .map(k => k -> sc.getLocalProperty(k))
      val segNow = seg
      val nextC: java.util.concurrent.Callable[Option[(String, String, Long)]] =
        () => {
          org.apache.spark.sql.SparkSession.setActiveSession(sess)
          rideAlongProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          bestOf(segNow).collect().headOption
            .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
        }
      val nextF = if (r < nRounds) Some(bpeArgmaxPool.submit(nextC)) else None
      val st =
        try {
          seg.agg(
            sum(col("n") * size(col("seg")).cast("long")).as("n_tokens"),
            sum(col("n") * expr(cksumOf)).as("cksum"))
            .collect()(0) // bounded: the round's 1-row certificate aggregates
        } catch { case e: Throwable =>
          // ADVICE r21: a failed certificate collect must not leave the
          // already-submitted argmax job orphaned against blocks the
          // caller may subsequently unpersist
          nextF.foreach(_.cancel(true))
          throw e
        }
      certs += ((r, a + b, total, st.getLong(0), st.getLong(1)))
      next = nextF.map(_.get()).getOrElse(None)
    }
    (certs.toSeq, seg)
  }

  /** One BPE training round as DuckDB CTEs (tx31's oracle): from the
    * current segmentation `seg r` (word, n, j, sym), mine the most
    * frequent adjacent pair, select greedy leftmost non-overlapping
    * merge positions via the tx27 run/gaps-and-islands closed form,
    * apply the merge with a LEAD + anti-join rewrite, and emit the
    * per-round certificate row `m r`. */
  private def bpeRoundSql(r: Int): String = {
    val sIn = s"seg$r"; val sOut = s"seg${r + 1}"
    s"""
      pairs$r AS (
        SELECT pa, pb, SUM(n) AS total FROM (
          SELECT word, n, sym AS pa,
                 LEAD(sym) OVER (PARTITION BY word ORDER BY j) AS pb
          FROM $sIn)
        WHERE pb IS NOT NULL GROUP BY 1, 2),
      best$r AS (
        SELECT pa, pb, total FROM pairs$r
        ORDER BY total DESC, pa, pb LIMIT 1),
      el$r AS (
        SELECT s.word, s.j FROM (
          SELECT word, j, sym,
                 LEAD(sym) OVER (PARTITION BY word ORDER BY j) AS nx
          FROM $sIn) s, best$r b
        WHERE s.sym = b.pa AND s.nx = b.pb),
      sel$r AS (
        SELECT word, j FROM (
          SELECT word, j, MIN(j) OVER (PARTITION BY word, grp) AS run0 FROM (
            SELECT word, j,
                   j - ROW_NUMBER() OVER (PARTITION BY word ORDER BY j) AS grp
            FROM el$r))
        WHERE (j - run0) % 2 = 0),
      $sOut AS (
        SELECT word, n,
               ROW_NUMBER() OVER (PARTITION BY word ORDER BY j) AS j, sym
        FROM (
          SELECT s.word, s.n, s.j,
                 CASE WHEN sel.j IS NOT NULL THEN s.sym || s.nx
                      ELSE s.sym END AS sym
          FROM (SELECT word, n, j, sym,
                       LEAD(sym) OVER (PARTITION BY word ORDER BY j) AS nx
                FROM $sIn) s
          LEFT JOIN sel$r sel ON sel.word = s.word AND sel.j = s.j
          LEFT JOIN sel$r prev ON prev.word = s.word AND prev.j = s.j - 1
          WHERE prev.word IS NULL)),
      m$r AS (
        SELECT $r AS round,
               (SELECT pa || pb FROM best$r) AS pair,
               (SELECT CAST(total AS BIGINT) FROM best$r) AS pair_total,
               CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(SUM(n * (('0x' || substr(md5(sym), 1, 7))::BIGINT))
                 AS BIGINT) AS cksum
        FROM $sOut)"""
  }
}
