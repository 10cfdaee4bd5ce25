package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Differential header fuzz (VERDICT r18 #4): replay every single-bit
  * mutant of every testkit vector through AgeFormat and assert the
  * rejection CLASS agrees with the independent Python implementation's
  * classification (tools/fuzz_testkit.py → fuzz_expected.tsv.gz, ~62k
  * mutants). The two parsers share no code — a divergent spec reading
  * that accepts, rejects, or reclassifies any single-bit header
  * corruption differently fails here with the exact (vector, byte, bit).
  *
  * Designing this lane found a real bug before it first ran: the JDK's
  * lenient base64 accepted non-zero discarded trailing bits on the MAC
  * line — the one header field the MAC cannot protect — where upstream
  * age's strict base64 rejects (fixed: AgeFormat.b64dCanonical; vector
  * mac_noncanonical_b64 pins it).
  *
  * Class taxonomy is the generator's (coarse by design: check order
  * WITHIN a stage is implementation-defined, stage identity is not):
  * accept / version / armor / parse / no_match / mac / payload.
  */
class DifferentialFuzzSpec extends AnyFunSuite {

  private val kitDir = new java.io.File("src/test/resources/testkit")
  private val manifest =
    new java.io.File("src/test/resources/testkit-fuzz/fuzz_expected.tsv.gz")

  private val msgClass: Map[String, String] = Map(
    "not an age v1 file" -> "version",
    "not an armored age file" -> "armor",
    "armored file missing END marker" -> "armor",
    "malformed armor line length" -> "armor",
    "malformed armor base64" -> "armor",
    "truncated header" -> "parse",
    "malformed header" -> "parse",
    "malformed stanza body" -> "parse",
    "malformed header MAC" -> "parse",
    "no recipient stanzas" -> "parse",
    "malformed scrypt stanza" -> "parse",
    "malformed scrypt salt" -> "parse",
    "malformed scrypt work factor" -> "parse",
    "scrypt work factor too large" -> "parse",
    "scrypt stanza must be the only stanza" -> "parse",
    "no matching key found" -> "no_match",
    "no scrypt stanza found" -> "no_match",
    "incorrect passphrase" -> "no_match",
    "header MAC mismatch" -> "mac",
    "truncated payload" -> "payload",
    "payload chunk authentication failed" -> "payload",
    "empty final chunk in multi-chunk payload" -> "payload")

  private def sha256hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  // identity = (scalar, public key), derived once per vector as the SQL
  // functions do once per key per task
  private final case class Vec(body: Array[Byte], identity: Option[(Array[Byte], Array[Byte])],
                               passphrase: Option[String], wantSha: Option[String])

  private def loadVec(name: String): Vec = {
    val raw = java.nio.file.Files.readAllBytes(
      new java.io.File(kitDir, name).toPath)
    var sep = -1
    var i = 0
    while (sep < 0 && i < raw.length - 1) {
      if (raw(i) == '\n' && raw(i + 1) == '\n') sep = i
      i += 1
    }
    require(sep > 0, s"$name: missing separator")
    val kv = new String(raw, 0, sep, "UTF-8").split('\n').map { l =>
      val Array(k, v) = l.split(": ", 2); k -> v
    }.toMap
    require(kv.contains("identity") || kv.contains("passphrase"),
      s"$name: vector carries no key material")
    Vec(java.util.Arrays.copyOfRange(raw, sep + 2, raw.length),
      kv.get("identity").map(id => AgeKeys.parseIdentity(id)
        .fold(e => fail(s"bad identity: $e"), s => (s, X25519.derivePublic(s)))),
      kv.get("passphrase"), kv.get("payload"))
  }

  private def classify(v: Vec, mutant: Array[Byte]): String =
    try {
      // key-material presence is validated in loadVec; this match is total
      val pt = (v.identity, v.passphrase) match {
        case (Some((id, pub)), _) => AgeFormat.decrypt(mutant, id, pub)
        case (_, pw) => AgeFormat.decryptWithPassphrase(mutant, pw.get)
      }
      if (v.wantSha.exists(_ != sha256hex(pt))) "accept_other" else "accept"
    } catch {
      case e: AgeInvalidInputException =>
        val cause = e.getMessage.stripPrefix("Decryption failed: ")
        msgClass.getOrElse(cause, s"unmapped:$cause")
      // NonFatal only (r19 code review): an OOM/StackOverflow mid-run must
      // abort the suite, not be recorded as a per-mutant classification
      case scala.util.control.NonFatal(e) => s"crash:${e.getClass.getSimpleName}"
    }

  test("every python-classified mutant classifies identically in Scala (~62k)") {
    assert(manifest.isFile, "fuzz manifest missing — run tools/fuzz_testkit.py")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(manifest)), "UTF-8"))
    var vecName = ""
    var vec: Vec = null
    var total = 0
    val mismatches = collection.mutable.ArrayBuffer[String]()
    try {
      var line = in.readLine()
      while (line != null) {
        if (line.startsWith("#vector\t")) {
          val Array(_, name, sha) = line.split('\t')
          vecName = name
          vec = loadVec(name)
          // the manifest must describe the committed vector bytes
          assert(sha256hex(vec.body) == sha,
            s"$name: vector bytes drifted since the manifest was generated " +
              "— re-run tools/fuzz_testkit.py")
        } else {
          val Array(name, posS, bitS, want) = line.split('\t')
          assert(name == vecName, "manifest ordering broken")
          // v2 rows (payload framing, VERDICT r19 #5): `trunc L` cuts the
          // body to L bytes, `ext n` appends n 0x00 bytes — length mutants
          // bit flips cannot express, covering truncation-at-chunk-boundary,
          // final-flag and trailing-garbage rules. Default row: bit flip.
          val mutant = posS match {
            case "trunc" => vec.body.take(bitS.toInt)
            case "ext" => vec.body ++ new Array[Byte](bitS.toInt)
            case _ =>
              val m = vec.body.clone()
              m(posS.toInt) = (m(posS.toInt) ^ (1 << bitS.toInt)).toByte
              m
          }
          val got = classify(vec, mutant)
          if (got != want)
            mismatches += s"$name pos=$posS bit=$bitS python=$want scala=$got"
          total += 1
        }
        line = in.readLine()
      }
    } finally in.close()
    assert(total > 10000, s"suspiciously small manifest: $total mutants")
    if (mismatches.nonEmpty) // full list for offline adjudication
      java.nio.file.Files.write(
        java.nio.file.Paths.get("/tmp/fuzz_mismatches.txt"),
        mismatches.mkString("\n").getBytes("UTF-8"))
    assert(mismatches.isEmpty,
      s"${mismatches.size} class divergences of $total mutants " +
        "(full list: /tmp/fuzz_mismatches.txt):\n" +
        mismatches.take(40).mkString("\n"))
    info(s"$total mutants, all classes agree")
  }
}
