package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What an op reports besides its timing: an error (exception or wrong
  * result), and the values and plaintext bytes it put through
  * `age_encrypt` plus `age_decrypt`. */
final case class Outcome(error: Option[String], cryptoValues: Long = 0, cryptoBytes: Long = 0)

object Outcome {
  def check(cond: Boolean, what: => String, values: Long = 0, bytes: Long = 0): Outcome =
    Outcome(if (cond) None else Some(what), values, bytes)
}

/** One op of the closed loop: one query or SQL statement. `build` makes
  * the DataFrame (construction and analysis, plus whatever the program
  * runs eagerly); `execute` runs it and checks its output. */
trait Op {
  def kind: String
  def build(spark: SparkSession): DataFrame
  def execute(spark: SparkSession, df: DataFrame, id: String): Outcome
}

/** A workload: per-session preparation (part of every set-up) and a seeded
  * endless schedule of rounds. A run measures whole rounds, so every seed
  * runs the same mix of op kinds and sizes. */
trait Workload {
  def name: String
  def prepare(spark: SparkSession): Unit = ()
  def warmupRounds: Int = 1
  /** Threads for the warm-up; 1 where ops depend on earlier ones. */
  def warmupThreads: Int = 1
  def rounds(phase: String): Iterator[Seq[Op]]
}

object Workloads {
  /** The `graft.Bench` headline queries, filtered as `graft.Bench` does. */
  val headline: Seq[String] = graft.Bench.headline.filter(graft.SparkEntry.queries.contains)

  /** GraphX connected components (`graph03`, and under `dd09`) beside the
    * DataFrame-native star CC of `graft.graph` (`graph09`). To keep a run
    * within budget, `dd19_canonical_selection` (GraphX CC again, ~1 s),
    * `graph12_frontier_bfs` (~8 s) and `graph13_triangles_df` (~7 s on 4
    * cores) are left out. An odd count per round keeps the median op on
    * one query instead of between two of very different lengths. */
  val graph: Seq[String] = Seq("dd09_lsh_cc_clusters", "graph03_components", "graph09_star_cc")

  /** Every query whose result is checked against a DuckDB reference. */
  val checkedQueries: Seq[String] = headline ++ graph

  def apply(name: String, seed: Long, corpus: String, work: String,
            refs: Map[String, Fingerprint]): Workload = name match {
    case "headline" => new QueryWorkload(name, headline, seed, corpus, refs)
    // one warm-up round left graph_cc's measured rounds still speeding up
    case "graph_cc" => new QueryWorkload(name, graph, seed, corpus, refs, warmup = 2)
    case "column_crypto" => new ColumnCrypto(seed, work)
    case "bulk_crypto" => new BulkCrypto(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rng(seed: Long, salt: String): Random = new Random(seed * 1000003L ^ salt.hashCode.toLong)

  /** A deterministic age keypair made by the program from seed bytes. */
  def keypair(spark: SparkSession, seedText: String): (String, String) = {
    val r = spark.sql(
      s"SELECT kp.public_key, kp.private_key FROM " +
        s"(SELECT age_keygen_from_seed(CAST('$seedText' AS BINARY)) AS kp)").head()
    (r.getString(0), r.getString(1))
  }
}

/** `graft.Bench`-style queries through a fingerprinting no-op sink, in a
  * seeded order per pass. */
final class QueryWorkload(val name: String, queries: Seq[String], seed: Long,
                          corpus: String, refs: Map[String, Fingerprint], warmup: Int = 1) extends Workload {
  private final class QueryOp(q: String) extends Op {
    def kind: String = q
    def build(spark: SparkSession): DataFrame = graft.SparkEntry.queries(q)(spark, corpus)
    def execute(spark: SparkSession, df: DataFrame, id: String): Outcome = {
      df.write.format(classOf[FpSink].getName).option("op", id).mode("overwrite").save()
      val got = FpSink.take(id)
      Outcome.check(got.isDefined && got == refs.get(q),
        s"$q fingerprint ${got.getOrElse("-")} != reference ${refs.getOrElse(q, "-")}")
    }
  }


  override def warmupRounds: Int = warmup
  override def warmupThreads: Int = 4

  override def rounds(phase: String): Iterator[Seq[Op]] = {
    val r = Workloads.rng(seed, s"$name/$phase")
    Iterator.continually(r.shuffle(queries).map(new QueryOp(_)))
  }
}

/** Encrypted-column ETL on the corpus: seeded slices of `customer.c_name`
  * (short values) and `documents.text` (longer values) are encrypted to
  * parquet, read back, decrypted and checked in-query against a checksum of
  * the plaintext. A round writes six slots, rotates the secret once at a
  * seeded point, then reads the six slots back. Half the slots name their
  * key as a secret, the other half pass literal keys. */
final class ColumnCrypto(seed: Long, work: String) extends Workload {
  import ColumnCrypto._
  val name = "column_crypto"
  private val literal = 4
  private var literalKeys: IndexedSeq[(String, String)] = IndexedSeq.empty
  // the newest secret; secret-mode slots written from now on name it
  private var current = ""

  private val sources = Seq(
    Source("customer", "c_custkey", "c_name", 15000, Seq(128, 256, 512)),
    Source("documents", "doc_id", "text", 5000, Seq(64, 128, 256)))

  private def createSecret(spark: SparkSession, secretName: String, seedText: String): DataFrame = {
    val kp = s"age_keygen_from_seed(CAST('$seedText' AS BINARY))"
    spark.sql(s"CREATE OR REPLACE SECRET $secretName (TYPE age, " +
      s"PUBLIC_KEY (SELECT $kp.public_key), PRIVATE_KEY (SELECT $kp.private_key))")
  }

  override def prepare(spark: SparkSession): Unit = {
    literalKeys = (0 until literal).map(i => Workloads.keypair(spark, s"graftbench-$seed-literal-$i"))
    current = s"gb_${seed.abs}_init"
    createSecret(spark, current, s"graftbench-$seed-init").collect()
  }

  private final class WriteOp(s: Slot) extends Op {
    def kind: String = s"write_${s.src.value}"
    def build(spark: SparkSession): DataFrame = spark.sql(
      s"SELECT ${s.src.key} AS id, " +
        s"age_encrypt(CAST(${s.src.value} AS BINARY), '${s.recipient}') AS ct, " +
        s"xxhash64(CAST(${s.src.value} AS BINARY)) AS h " +
        s"FROM ${s.src.table} WHERE ${s.src.key} >= ${s.lo} AND ${s.src.key} < ${s.lo + s.n}")
    def execute(spark: SparkSession, df: DataFrame, id: String): Outcome = {
      df.write.mode("overwrite").parquet(s.path)
      Outcome(None, cryptoValues = s.n)
    }
  }

  private final class ReadOp(s: Slot) extends Op {
    def kind: String = s"read_${s.src.value}"
    def build(spark: SparkSession): DataFrame = spark.sql(
      s"SELECT count(*) AS n, count_if(xxhash64(age_decrypt(ct, '${s.identity}')) = h) AS ok " +
        s"FROM parquet.`${s.path}`")
    def execute(spark: SparkSession, df: DataFrame, id: String): Outcome = {
      val r = df.head()
      Outcome.check(r.getLong(0) == s.n && r.getLong(1) == s.n,
        s"$kind ${s.path}: ${r.getLong(1)} of ${r.getLong(0)} rows decrypt, expected ${s.n}",
        values = s.n)
    }
  }

  private final class RotateOp(secretName: String, seedText: String) extends Op {
    def kind: String = "rotate_secret"
    def build(spark: SparkSession): DataFrame = createSecret(spark, secretName, seedText)
    def execute(spark: SparkSession, df: DataFrame, id: String): Outcome = {
      val msg = df.head().getString(0)
      Outcome.check(msg.contains(secretName), s"rotation answered '$msg'")
    }
  }

  override def rounds(phase: String): Iterator[Seq[Op]] = {
    val r = Workloads.rng(seed, s"$name/$phase")
    Iterator.from(0).map { round =>
      val specs = r.shuffle(sources.flatMap(src => src.sizes.map(src -> _)))
      val useSecret = r.shuffle(Seq.fill(specs.size / 2)(true) ++ Seq.fill(specs.size - specs.size / 2)(false))
      val rotateAt = r.nextInt(specs.size + 1)
      val newSecret = s"gb_${seed.abs}_${phase}_$round"
      val rotateSeed = s"graftbench-$seed-$phase-rotate-$round"
      val writes = scala.collection.mutable.ArrayBuffer.empty[Op]
      val slots = specs.zip(useSecret).zipWithIndex.map { case (((src, n), sec), k) =>
        if (k == rotateAt) {
          writes += new RotateOp(newSecret, rotateSeed)
          current = newSecret
        }
        val lo = r.nextInt(src.rows - n + 1)
        val (pub, priv) = literalKeys(r.nextInt(literal))
        val slot = Slot(s"$work/column/$phase-$round-$k", src, lo, n,
          if (sec) current else "", pub, priv)
        writes += new WriteOp(slot)
        slot
      }
      if (rotateAt == specs.size) {
        writes += new RotateOp(newSecret, rotateSeed)
        current = newSecret
      }
      writes.toSeq ++ r.shuffle(slots).map(new ReadOp(_))
    }
  }
}

object ColumnCrypto {
  final case class Source(table: String, key: String, value: String, rows: Int, sizes: Seq[Int])

  /** One slice written to parquet and read back. `secret` names the
    * secret used for both, or is empty for literal keys `pub`/`priv`. */
  final case class Slot(path: String, src: Source, lo: Int, n: Int,
                        secret: String, pub: String, priv: String) {
    def recipient: String = if (secret.nonEmpty) secret else pub
    def identity: String = if (secret.nonEmpty) secret else priv
  }
}

/** Large seeded blobs (64 KiB to 16 MiB) through `age_encrypt` or
  * `age_encrypt_multi` to three recipients, then `age_decrypt`, checked
  * in-query. A round holds one blob of each of nine doubling sizes, each
  * jittered by up to 10%, in seeded order; three of the nine use three
  * recipients. */
final class BulkCrypto(seed: Long) extends Workload {
  val name = "bulk_crypto"
  private var keys: IndexedSeq[(String, String)] = IndexedSeq.empty
  private val sizes = (0 until 9).map(i => (64 << 10) << i)
  // round times still fall through the third round
  override def warmupRounds: Int = 3

  override def prepare(spark: SparkSession): Unit =
    keys = (0 until 3).map(i => Workloads.keypair(spark, s"graftbench-$seed-bulk-$i"))

  private final class BlobOp(bytes: Int, salt: String, multi: Boolean, reader: Int) extends Op {
    def kind: String = if (multi) "blob_multi" else "blob"
    def build(spark: SparkSession): DataFrame = {
      val (pub, _) = keys(reader)
      val enc =
        if (multi) s"age_encrypt_multi(b, array(${keys.map(k => s"'${k._1}'").mkString(", ")}))"
        else s"age_encrypt(b, '$pub')"
      // the blob depends on `id`, so it is built in the task, never folded
      // into the plan as a literal
      spark.sql(
        s"SELECT count(*) AS n, count_if(ok) AS ok FROM (" +
          s"SELECT age_decrypt($enc, '${keys(reader)._2}') = b AS ok FROM (" +
          s"SELECT CAST(repeat(sha2(concat('$salt', CAST(id AS STRING)), 256), ${bytes / 64}) " +
          s"AS BINARY) AS b FROM range(0, 1)))")
    }
    def execute(spark: SparkSession, df: DataFrame, id: String): Outcome = {
      val r = df.head()
      Outcome.check(r.getLong(0) == 1 && r.getLong(1) == 1, s"$kind of $bytes B did not round-trip",
        values = 2, bytes = 2L * bytes)
    }
  }

  override def rounds(phase: String): Iterator[Seq[Op]] = {
    val r = Workloads.rng(seed, s"$name/$phase")
    Iterator.from(0).map { round =>
      val multi = r.shuffle(Seq.fill(3)(true) ++ Seq.fill(sizes.size - 3)(false))
      r.shuffle(sizes).zip(multi).zipWithIndex.map { case ((size, m), k) =>
        val jittered = (size * (0.9 + 0.2 * r.nextDouble())).toInt / 64 * 64
        new BlobOp(jittered, s"$seed-$phase-$round-$k-", m, if (m) r.nextInt(3) else 0)
      }
    }
  }
}
