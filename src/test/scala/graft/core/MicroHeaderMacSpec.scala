package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** THIRD from-spec implementation of the age header MAC/HKDF path
  * (VERDICT r18 #4 option b): everything downstream of the raw curve op is
  * re-implemented HERE, sharing no code with graft.core —
  *
  *   - HMAC-SHA256 from raw MessageDigest per RFC 2104 (ipad/opad), NOT
  *     javax.crypto.Mac (which both AgeFormat's Hkdf and any Mac-provider
  *     bug would share);
  *   - HKDF extract/expand written fresh from RFC 5869;
  *   - the age v1 labels ("age-encryption.org/v1/X25519", "header") and
  *     the MAC input framing (header through the stanzas + "---") written
  *     from the spec text;
  *   - public-key derivation via KeyAgreement WITH THE BASE POINT
  *     (priv·9 = public u-coordinate). This is independent of production:
  *     the micro-impl uses the JDK's XDH provider, while
  *     X25519.derivePublic runs graft's own ladder (X25519.scala).
  *
  * For every X25519 success vector in the testkit the micro-impl parses
  * the header bytes itself, unwraps the file key, recomputes the MAC and
  * asserts it equals the MAC line byte-for-byte. A label, salt-order, or
  * framing misreading REPLICATED across AgeFormat and the Python twin
  * (the class the differential fuzz cannot see) would have to be
  * independently repeated a third time here to slip through.
  *
  * Residual sharing, documented: java.util.Base64,
  * ChaCha20-Poly1305 via Cipher for the single unwrap, and
  * AgeKeys.parseIdentity for bech32 (key encoding is pinned separately by
  * the testkit's keygen vectors).
  */
class MicroHeaderMacSpec extends AnyFunSuite {
  import java.security.{KeyFactory, MessageDigest}
  import java.security.spec.NamedParameterSpec
  import java.security.spec.{XECPrivateKeySpec, XECPublicKeySpec}
  import javax.crypto.{Cipher, KeyAgreement}
  import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

  // ---- RFC 2104 HMAC-SHA256 from raw MessageDigest ------------------------
  private def hmacSha256(key0: Array[Byte], msg: Array[Byte]): Array[Byte] = {
    val B = 64
    val sha = MessageDigest.getInstance("SHA-256")
    val key = if (key0.length > B) sha.digest(key0) else key0
    val ipad = new Array[Byte](B)
    val opad = new Array[Byte](B)
    var i = 0
    while (i < B) {
      val k = if (i < key.length) key(i) else 0: Byte
      ipad(i) = (k ^ 0x36).toByte
      opad(i) = (k ^ 0x5c).toByte
      i += 1
    }
    sha.reset(); sha.update(ipad); sha.update(msg)
    val inner = sha.digest()
    sha.reset(); sha.update(opad); sha.update(inner)
    sha.digest()
  }

  // ---- RFC 5869 HKDF-SHA256 (32-byte output is all age needs here) --------
  private def hkdf32(ikm: Array[Byte], salt: Array[Byte], info: Array[Byte]): Array[Byte] = {
    val prk = hmacSha256(if (salt.isEmpty) new Array[Byte](32) else salt, ikm)
    hmacSha256(prk, info :+ 1.toByte) // first block only: L = 32 = HashLen
  }

  // ---- curve ops via the JDK provider (see banner for why) ----------------
  private val params = NamedParameterSpec.X25519
  private def dh(scalar: Array[Byte], pubU: Array[Byte]): Array[Byte] = {
    val kf = KeyFactory.getInstance("XDH")
    val u = {
      // little-endian raw u -> BigInteger, high bit of last byte masked
      val b = pubU.clone(); b(31) = (b(31) & 0x7f).toByte
      new java.math.BigInteger(1, b.reverse)
    }
    val priv = kf.generatePrivate(new XECPrivateKeySpec(params, scalar))
    val pub = kf.generatePublic(new XECPublicKeySpec(params, u))
    val ka = KeyAgreement.getInstance("XDH")
    ka.init(priv); ka.doPhase(pub, true)
    ka.generateSecret()
  }
  /** priv·basepoint via KeyAgreement (the JDK provider, not production's ladder). */
  private def pubOf(scalar: Array[Byte]): Array[Byte] = {
    val base = new Array[Byte](32); base(0) = 9
    dh(scalar, base)
  }

  private def openChaCha(key: Array[Byte], ct: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("ChaCha20-Poly1305")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "ChaCha20"),
      new IvParameterSpec(new Array[Byte](12)))
    c.doFinal(ct)
  }

  // ---- minimal independent header scan ------------------------------------
  private final case class Hdr(stanzas: Seq[(Seq[String], Array[Byte])],
                               macB64: String, macged: Array[Byte])
  private def scanHeader(data: Array[Byte]): Hdr = {
    val b64d = java.util.Base64.getDecoder
    var pos = 0
    def line(): String = {
      val nl = data.indexOf('\n'.toByte, pos)
      require(nl >= 0, "no newline")
      val s = new String(data, pos, nl - pos, "UTF-8"); pos = nl + 1; s
    }
    require(line() == "age-encryption.org/v1", "version")
    val stanzas = Seq.newBuilder[(Seq[String], Array[Byte])]
    var l = line()
    var macStart = -1
    while (macStart < 0) {
      if (l.startsWith("--- ")) {
        macStart = pos - l.length - 1
      } else {
        require(l.startsWith("-> "), s"stanza line: $l")
        val args = l.drop(3).split(' ').toSeq
        val body = Array.newBuilder[Byte]
        var bl = line()
        body ++= b64d.decode(bl)
        while (bl.length == 64) { bl = line(); body ++= b64d.decode(bl) }
        stanzas += ((args, body.result()))
        l = line()
      }
    }
    val macged = java.util.Arrays.copyOfRange(data, 0, macStart) ++ "---".getBytes("UTF-8")
    Hdr(stanzas.result(), l.drop(4), macged)
  }

  private val kitDir = new java.io.File("src/test/resources/testkit")

  private def vectors = Option(kitDir.listFiles).map(_.toSeq).getOrElse(Seq.empty)
    .filter(_.getName.endsWith(".age")).sortBy(_.getName)
    .flatMap { f =>
      val raw = java.nio.file.Files.readAllBytes(f.toPath)
      var sep = -1; var i = 0
      while (sep < 0 && i < raw.length - 1) {
        if (raw(i) == '\n' && raw(i + 1) == '\n') sep = i
        i += 1
      }
      val kv = new String(raw, 0, sep, "UTF-8").split('\n').map { l =>
        val Array(k, v) = l.split(": ", 2); k -> v
      }.toMap
      val body = java.util.Arrays.copyOfRange(raw, sep + 2, raw.length)
      // X25519 success vectors only; skip armored (text layer, not MAC path)
      if (kv("expect") == "success" && kv.contains("identity") &&
          !new String(body.take(5), "UTF-8").startsWith("-----"))
        Some((f.getName, kv("identity"), body))
      else None
    }

  test("micro-impl recomputes every success vector's header MAC byte-for-byte") {
    val vs = vectors
    assert(vs.size >= 6, s"unexpectedly few X25519 success vectors: ${vs.size}")
    for ((name, idBech, data) <- vs) {
      val scalar = AgeKeys.parseIdentity(idBech)
        .fold(e => fail(s"$name: bad identity $e"), identity)
      val h = scanHeader(data)
      val myPub = pubOf(scalar)
      val fileKey = h.stanzas.collectFirst {
        case (args, body) if args.headOption.contains("X25519") =>
          val eph = java.util.Base64.getDecoder.decode(args(1))
          scala.util.Try {
            val wrapKey = hkdf32(dh(scalar, eph), eph ++ myPub,
              "age-encryption.org/v1/X25519".getBytes("UTF-8"))
            openChaCha(wrapKey, body)
          }.toOption
      }.flatten.orElse {
        // multi-stanza vectors: try every X25519 stanza, not just the first
        h.stanzas.flatMap {
          case (args, body) if args.headOption.contains("X25519") =>
            scala.util.Try {
              val eph = java.util.Base64.getDecoder.decode(args(1))
              val wrapKey = hkdf32(dh(scalar, eph), eph ++ myPub,
                "age-encryption.org/v1/X25519".getBytes("UTF-8"))
              openChaCha(wrapKey, body)
            }.toOption
          case _ => None
        }.headOption
      }.getOrElse(fail(s"$name: micro-impl could not unwrap the file key"))

      val hmacKey = hkdf32(fileKey, Array.emptyByteArray, "header".getBytes("UTF-8"))
      val mac = hmacSha256(hmacKey, h.macged)
      val macB64 = java.util.Base64.getEncoder.withoutPadding.encodeToString(mac)
      assert(macB64 == h.macB64,
        s"$name: micro-impl MAC $macB64 != header's ${h.macB64} — a label/" +
          "framing divergence between the spec text and graft.core")
    }
  }

  test("micro-impl agrees with AgeFormat on a fresh in-test encryption") {
    // full loop on bytes produced by the PRODUCTION encryptor with a fresh
    // seeded key: the micro-impl must validate production output too
    val kp = AgeKeys.fromSeed("micro-mac-spec".getBytes("UTF-8"))
    val id = AgeKeys.parseIdentity(kp.privateKey).toOption.get
    val rec = AgeKeys.parseRecipient(kp.publicKey).toOption.get
    val ct = AgeFormat.encrypt("micro".getBytes("UTF-8"), Seq(rec))
    val h = scanHeader(ct)
    val eph = java.util.Base64.getDecoder.decode(
      h.stanzas.head._1(1))
    val wrapKey = hkdf32(dh(id, eph), eph ++ pubOf(id),
      "age-encryption.org/v1/X25519".getBytes("UTF-8"))
    val fileKey = openChaCha(wrapKey, h.stanzas.head._2)
    val mac = hmacSha256(hkdf32(fileKey, Array.emptyByteArray,
      "header".getBytes("UTF-8")), h.macged)
    assert(java.util.Base64.getEncoder.withoutPadding.encodeToString(mac) == h.macB64)
  }
}
