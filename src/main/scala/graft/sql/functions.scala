package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_udf

/** Column-DSL façade over the registered age UDFs — the `org.apache.spark
  * .sql.functions`-style surface Scala users compose with, so the crypto
  * operators work in `select`/`withColumn` chains without SQL strings.
  * Requires `AgeFunctions.register(spark)` once per session (the DDL
  * extension does not auto-register, mirroring the reference's explicit
  * `LOAD 'age'`). Registration is stateless and secret names bind when the
  * query is analysed, so a column built here sees every CREATE/DROP SECRET
  * made before its DataFrame is created, in any session. */
object functions {
  /** Encrypt for one recipient (raw `age1…` key or secret name). */
  def age_encrypt(data: Column, recipient: Column): Column =
    call_udf("age_encrypt", data, recipient)

  /** Decrypt with one identity (raw `AGE-SECRET-KEY-1…` or secret name). */
  def age_decrypt(data: Column, identity: Column): Column =
    call_udf("age_decrypt", data, identity)

  /** Decrypt returning NULL instead of raising on failure. */
  def age_try_decrypt(data: Column, identity: Column): Column =
    call_udf("age_try_decrypt", data, identity)

  /** Encrypt for N recipients (array column of keys/secret names). */
  def age_encrypt_multi(data: Column, recipients: Column): Column =
    call_udf("age_encrypt_multi", data, recipients)

  /** Armored (PEM-style text) encryption. */
  def age_encrypt_armor(data: Column, recipient: Column): Column =
    call_udf("age_encrypt_armor", data, recipient)

  /** Passphrase encryption (age scrypt stanza). */
  def age_encrypt_pass(data: Column, passphrase: Column): Column =
    call_udf("age_encrypt_pass", data, passphrase)

  /** Passphrase decryption. */
  def age_decrypt_pass(data: Column, passphrase: Column): Column =
    call_udf("age_decrypt_pass", data, passphrase)

  /** Fresh random keypair struct (public_key, private_key). */
  def age_keygen(): Column = call_udf("age_keygen")

  /** Deterministic keypair from a binary seed. */
  def age_keygen_from_seed(seed: Column): Column =
    call_udf("age_keygen_from_seed", seed)

  /** Engine version string. */
  def age_version(): Column = call_udf("age_version")

  /** Native codegen cosine similarity between two float-array columns. */
  def cosine_sim(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** Fused full + first-`prefixLen`-dims cosine from ONE vector traversal:
    * `struct(full, prefix)` — the Matryoshka-retrieval kernel. */
  def cosine_sim_pair(a: Column, b: Column, prefixLen: Int): Column =
    graft.functions.CosineSimPair.cosine_sim_pair(a, b, prefixLen)

  /** One-pass K-minhash signature aggregate over a hashed-shingle column. */
  def minhash_agg(h: Column): Column = graft.functions.MinHashAgg.minhash_agg(h)

  /** One-pass 56-bit SimHash aggregate over paired 28-bit word hashes. */
  def simhash_agg(h1: Column, h2: Column): Column =
    graft.functions.SimHashAgg.simhash_agg(h1, h2)

  /** Mergeable 4×256 Count-Min-Sketch counter grid over 28-bit hashes. */
  def cms_agg(h: Column): Column = graft.functions.CmsAgg.cms_agg(h)

  /** Exact 128-bit integer SUM of a BIGINT column (two-long carry adder);
    * emitted as exact decimal digits. */
  def sum128_agg(x: Column): Column = graft.functions.Sum128Agg.sum128_agg(x)

  /** Native codegen LSH band keys over a float/double-array column:
    * nPlanes hyperplane signs packed into nPlanes/bandSize bigint keys. */
  def band_keys(c: Column, nPlanes: Int, bandSize: Int): Column =
    graft.functions.BandKeys.band_keys(c, nPlanes, bandSize)

  /** Exact COUNT(DISTINCT) over an integral column via paged bitmaps —
    * one-pass, no Expand, shuffles bitmap pages instead of rows. */
  def bitmap_distinct(c: Column): Column =
    graft.functions.BitmapDistinct.bitmap_distinct(c)

  /** Native codegen per-row token stats over a space-separated string:
    * `array(n_tokens, n_subwords)` with `split(text, ' ')` field
    * semantics — token counting as a pure scan-side map. */
  def token_stats(c: Column): Column =
    graft.functions.TokenStats.token_stats(c)

  /** Native codegen per-row n-gram repetition stats:
    * `array(top2gram_count, n_2grams, top3gram_count, n_3grams)` with
    * `split(text, ' ')` word semantics — the Gopher repetition rules as
    * a pure scan-side map (no gram explode, no doc-keyed exchange). */
  def repetition_stats(c: Column): Column =
    graft.functions.RepetitionStats.repetition_stats(c)

  /** Native per-row one-pass MinHash: `array<bigint>` K=8 signature of
    * the document's 3-word shingle set (md5-prefix hashes, MinHashAgg's
    * coefficients), null for documents with fewer than 3 words — the
    * whole shingle→hash→signature pipeline as a scan-side map. */
  def minhash_sig(text: Column): Column =
    graft.functions.MinHashSig.minhash_sig(text)

  /** Bounded top-k aggregate by (score DESC, id ASC): map-side partial
    * aggregation carries at most k pairs per group through the shuffle —
    * the distributed brute-force ANN reducer. */
  def topk_agg(score: Column, id: Column, k: Int): Column =
    graft.functions.TopKAgg.topk_agg(score, id, k)
}
