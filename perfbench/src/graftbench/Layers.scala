package graftbench

import scala.util.Random

import graft.core.{AgeFormat, AgeKeys, Hkdf, X25519}
import org.apache.spark.sql.SparkSession

/** Per-layer probes of the traced run, timed from outside through graft's
  * public functions on seeded inputs. Each returns metric name -> value. */
final class Layers(seed: Long, tracer: Tracer, root: Int) {
  private val rnd = new Random(seed ^ 0x6c617965L)
  private def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }

  /** Mean microseconds per call of `f`: a warm-up of at least 60 ms, then
    * the median of five batches of about 40 ms each. */
  private def micros(name: String)(f: () => Unit): Double = {
    val w0 = System.nanoTime()
    var warm = 0
    while (warm < 3 || System.nanoTime() - w0 < 60000000L) { f(); warm += 1 }
    val perCall = (System.nanoTime() - w0).toDouble / warm
    val n = math.max(1, (40e6 / perCall).toInt)
    val t0 = System.nanoTime()
    val batches = (1 to 5).map { _ =>
      val a = System.nanoTime()
      var i = 0
      while (i < n) { f(); i += 1 }
      (System.nanoTime() - a) / 1e3 / n
    }
    tracer.add(root, name, t0, System.nanoTime(), Map("calls" -> (5 * n).toString))
    Stats.median(batches)
  }

  /** The `graft.core` kernel table. */
  def core(): Seq[(String, Double)] = {
    val scalar = X25519.clamp(bytes(32))
    val pub = X25519.derivePublic(scalar)
    val recipient = AgeKeys.encodeRecipient(pub)
    val identity = AgeKeys.encodeIdentity(scalar)
    val peer = X25519.generateKeyPair()._2
    val ikm = bytes(32)
    val salt = bytes(64)
    val sizes = Seq("32B" -> 32, "1KiB" -> 1024, "64KiB" -> (64 << 10), "1MiB" -> (1 << 20))
    val keyOps = Seq(
      "core.bech32_parse_us" -> micros("core.bech32_parse") { () =>
        AgeKeys.parseRecipient(recipient); AgeKeys.parseIdentity(identity); ()
      } / 2,
      "core.x25519_keygen_us" -> micros("core.x25519_keygen") { () => X25519.generateKeyPair(); () },
      "core.x25519_dh_us" -> micros("core.x25519_dh") { () => X25519.sharedSecret(scalar, peer); () },
      // a fresh scalar per call, so no memoized public key is ever reused
      "core.derive_public_cold_us" -> micros("core.derive_public_cold") { () =>
        X25519.derivePublic(bytes(32)); ()
      },
      "core.hkdf_us" -> micros("core.hkdf") { () =>
        Hkdf.derive(ikm, salt, "age-encryption.org/v1/X25519", 32); ()
      })
    val streamOps = sizes.flatMap { case (label, n) =>
      val pt = bytes(n)
      val ct = AgeFormat.encrypt(pt, Seq(pub))
      require(java.util.Arrays.equals(AgeFormat.decrypt(ct, scalar), pt), s"core round trip at $label")
      Seq(
        s"core.encrypt_us.$label" -> micros(s"core.encrypt.$label") { () => AgeFormat.encrypt(pt, Seq(pub)); () },
        s"core.decrypt_us.$label" -> micros(s"core.decrypt.$label") { () => AgeFormat.decrypt(ct, scalar); () })
    }
    keyOps ++ streamOps
  }

  private def span[T](name: String)(f: => T): T = {
    val a = System.nanoTime()
    try f finally tracer.add(root, name, a, System.nanoTime())
  }

  /** `secrets.create_ms`: CREATE SECRET through SQL, which also refreshes
    * the functions of every live session. Median of five. */
  def secrets(spark: SparkSession): Seq[(String, Double)] = {
    val keys = AgeKeys.fromSeed(s"graftbench-$seed-probe".getBytes("UTF-8"))
    val ms = (0 until 5).map { i =>
      val a = System.nanoTime()
      span("secrets.create") {
        spark.sql(s"CREATE OR REPLACE SECRET gb_probe_$i (TYPE age, " +
          s"PUBLIC_KEY '${keys.publicKey}', PRIVATE_KEY '${keys.privateKey}')").collect()
      }
      (System.nanoTime() - a) / 1e6
    }
    Seq("secrets.create_ms" -> Stats.median(ms))
  }

  /** `sql.register_ms`: `AgeFunctions.register` on a session that has not
    * seen the current secrets. Median of five fresh sessions. */
  def register(spark: SparkSession): Seq[(String, Double)] = {
    val ms = (0 until 5).map { _ =>
      val s = spark.newSession()
      val a = System.nanoTime()
      span("sql.register")(graft.sql.AgeFunctions.register(s))
      (System.nanoTime() - a) / 1e6
    }
    Seq("sql.register_ms" -> Stats.median(ms))
  }

  private def udfKeys = AgeKeys.fromSeed(s"graftbench-$seed-udf".getBytes("UTF-8"))

  /** SQL that round-trips `rows` seeded 32-byte values through
    * `age_encrypt`/`age_decrypt` in a single task; returns the number that
    * came back equal. */
  def udfProbe(spark: SparkSession, rows: Int): Long = {
    val keys = udfKeys
    spark.sql(
      s"SELECT count_if(ok) FROM (" +
        s"SELECT age_decrypt(age_encrypt(v, '${keys.publicKey}'), '${keys.privateKey}') = v AS ok " +
        s"FROM (SELECT unhex(sha2(CAST(id + $seed AS STRING), 256)) AS v FROM range(0, $rows, 1, 1)))")
      .head().getLong(0)
  }

  /** Microseconds per value of the kernel calls `udfProbe` makes
    * (`AgeFormat.encrypt` then `AgeFormat.decrypt`), on the same values and
    * keys in a plain loop; the probe's executor time per row minus this is
    * the SQL and UDF cost. Measured right after the probe, so that both
    * see the same JIT state and host load. */
  def udfKernelUs(rows: Int): Double = {
    val keys = udfKeys
    val pub = AgeKeys.parseRecipient(keys.publicKey).fold(e => throw new IllegalStateException(e), identity)
    val id = AgeKeys.parseIdentity(keys.privateKey).fold(e => throw new IllegalStateException(e), identity)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val values = (0 until rows).map(i => sha.digest((i + seed).toString.getBytes("UTF-8")))
    val a = System.nanoTime()
    val ok = values.count(v => java.util.Arrays.equals(AgeFormat.decrypt(AgeFormat.encrypt(v, Seq(pub)), id), v))
    val us = (System.nanoTime() - a) / 1e3 / rows
    tracer.add(root, "core.udf_kernel", a, System.nanoTime(), Map("calls" -> rows.toString))
    require(ok == rows, s"kernel loop: $ok of $rows values round-tripped")
    us
  }
}
