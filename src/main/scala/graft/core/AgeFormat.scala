package graft.core

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Exception type carrying reference-identical error messages (the
  * SQLLogicTests in /root/reference/test/sql match message substrings —
  * SURVEY.md §5.3 catalog). */
final class AgeInvalidInputException(msg: String) extends RuntimeException(msg)

/** age v1 wire format (age-encryption.org/v1): textual header with X25519
  * stanzas + header HMAC, then a 16-byte payload nonce and ChaCha20-Poly1305
  * encrypted 64 KiB chunks (STREAM construction).
  *
  * Functional mirror of /root/reference rust/src/lib.rs:40-110 (encrypt),
  * :145-212 (decrypt), :214-304 (multi-recipient) — re-implemented on
  * graft's [[X25519]] and `javax.crypto` (HKDF-SHA256, ChaCha20-Poly1305),
  * no FFI.
  */
object AgeFormat {
  private val V1Line = "age-encryption.org/v1"
  private val X25519Label = "age-encryption.org/v1/X25519"
  // The scrypt salt label carries the full v1 namespace, exactly like the
  // X25519 HKDF info label above: upstream age (scrypt.go) and rage both
  // define `"age-encryption.org/v1/scrypt"` next to
  // `"age-encryption.org/v1/X25519"`. r16d adjudication: a session first
  // flipped this to the un-namespaced form from a spec recollection, the
  // review pass matched it against the upstream source pattern, and the
  // /v1 form was restored in BOTH implementations (tools/age_interop.py
  // mirrors it); this constant is the one byte-level spec detail the
  // cross-implementation lane cannot arbitrate (both sides share it), so
  // it is pinned here with its provenance.
  private val ScryptSaltLabel = "age-encryption.org/v1/scrypt"
  private val ChunkSize = 64 * 1024
  private val TagLen = 16

  /** Work-factor cap on decrypt: a hostile header with log2(N)=30 would
    * demand 128 GiB of ROMix scratch per row. age's own clients refuse
    * headers above their configured maximum for the same reason. */
  val MaxScryptLogN = 20
  private val b64e = Base64.getEncoder.withoutPadding()
  private val b64d = Base64.getDecoder

  // Cipher instances are reused per thread: executor task threads run the
  // per-row kernels millions of times, and Cipher.getInstance dominates
  // small-payload cost. The JDK's ChaCha20 provider REJECTS re-initializing
  // one Cipher object with the identical (key, nonce) as its previous init
  // — in decrypt mode too — so two consecutive inits with the same pair
  // (a decrypt that failed AFTER key-unwrap, e.g. a header-MAC mismatch,
  // followed by any decrypt of the same stanza on the same thread) would
  // spuriously throw and surface as "no matching key found" on a VALID
  // ciphertext. Caught by the r18 testkit suite (payload_* vectors share
  // x25519_base's stanza); on the rejection we fall back to a fresh Cipher
  // once — a genuinely bad key fails again from the fresh instance.
  private val cipherTL = ThreadLocal.withInitial[Cipher](
    () => Cipher.getInstance("ChaCha20-Poly1305"))

  private def cipher(mode: Int, key: Array[Byte], nonce: Array[Byte]): Cipher = {
    val ks = new SecretKeySpec(key, "ChaCha20")
    val iv = new IvParameterSpec(nonce)
    val c0 = cipherTL.get()
    try { c0.init(mode, ks, iv); c0 }
    catch {
      // DECRYPT only (ADVICE r18): the reuse rejection is spurious on the
      // decrypt path (re-opening the same stanza is legitimate), but on
      // ENCRYPT it is the JDK's last-line defense against a (key, nonce)
      // pair actually repeating — an RNG/derivation bug must keep
      // throwing there, never be silently retried into a nonce reuse.
      case _: java.security.InvalidKeyException if mode == Cipher.DECRYPT_MODE =>
        val fresh = Cipher.getInstance("ChaCha20-Poly1305")
        fresh.init(mode, ks, iv)
        cipherTL.set(fresh)
        fresh
    }
  }

  private def seal(key: Array[Byte], nonce: Array[Byte], pt: Array[Byte]) =
    cipher(Cipher.ENCRYPT_MODE, key, nonce).doFinal(pt)

  private def open(key: Array[Byte], nonce: Array[Byte], ct: Array[Byte]) =
    cipher(Cipher.DECRYPT_MODE, key, nonce).doFinal(ct)

  private def chunkNonce(counter: Long, fin: Boolean): Array[Byte] = {
    val n = new Array[Byte](12)
    var c = counter
    var i = 10
    while (c != 0 && i >= 0) { n(i) = (c & 0xff).toByte; c >>>= 8; i -= 1 }
    n(11) = if (fin) 1 else 0
    n
  }

  private def wrapKey(shared: Array[Byte], eph: Array[Byte], recipient: Array[Byte]) =
    Hkdf.derive(shared, eph ++ recipient, X25519Label, 32)

  /** Encrypt for N parsed recipients (32-byte public u-coords). One fresh
    * ephemeral share per stanza, one payload pass — multi-recipient adds
    * only header stanzas (reference claim FUNCTIONS.md:468). */
  def encrypt(plaintext: Array[Byte], recipients: Seq[Array[Byte]]): Array[Byte] = {
    require(recipients.nonEmpty, "at least one recipient")
    val fileKey = Entropy.bytes(16)

    val header = new StringBuilder
    header.append(V1Line).append('\n')
    recipients.foreach { rec =>
      val (ephPriv, ephPub) = X25519.generateKeyPair()
      val shared = X25519.sharedSecret(ephPriv, rec)
      val wrapped = seal(wrapKey(shared, ephPub, rec), new Array[Byte](12), fileKey)
      header.append("-> X25519 ").append(b64e.encodeToString(ephPub)).append('\n')
      header.append(b64e.encodeToString(wrapped)).append('\n')
    }
    finishEncrypt(header, fileKey, plaintext)
  }

  /** Passphrase encryption — the age v1 `scrypt` stanza (spec: the scrypt
    * stanza must be the only stanza in the header). Beyond the reference's
    * X25519-only surface; completes the spec's recipient types. logN=14
    * (16 MiB ROMix) keeps per-row cost tractable in a columnar engine; the
    * stanza carries the factor, so any standard age client decrypts. */
  def encryptWithPassphrase(plaintext: Array[Byte], passphrase: String,
                            logN: Int = 14): Array[Byte] = {
    require(logN >= 1 && logN <= MaxScryptLogN, s"logN must be in [1, $MaxScryptLogN]")
    val fileKey = Entropy.bytes(16)
    val salt = Entropy.bytes(16)
    val key = Scrypt.derive(passphrase.getBytes(UTF_8),
      ScryptSaltLabel.getBytes(UTF_8) ++ salt, 1 << logN, 8, 1, 32)
    val wrapped = seal(key, new Array[Byte](12), fileKey)
    val header = new StringBuilder
    header.append(V1Line).append('\n')
    header.append("-> scrypt ").append(b64e.encodeToString(salt))
      .append(' ').append(logN).append('\n')
    header.append(b64e.encodeToString(wrapped)).append('\n')
    finishEncrypt(header, fileKey, plaintext)
  }

  /** Shared header-MAC + STREAM payload tail of both encrypt paths. */
  private def finishEncrypt(header: StringBuilder, fileKey: Array[Byte],
                            plaintext: Array[Byte]): Array[Byte] = {
    val hmacKey = Hkdf.derive(fileKey, Array.emptyByteArray, "header", 32)
    val macInput = (header.toString + "---").getBytes(UTF_8)
    val mac = Hkdf.hmacSha256(hmacKey, macInput)
    header.append("--- ").append(b64e.encodeToString(mac)).append('\n')

    val nonce = Entropy.bytes(16)
    val payloadKey = Hkdf.derive(fileKey, nonce, "payload", 32)

    // STREAM: every chunk is sealed straight into one pre-sized array
    val headerBytes = header.toString.getBytes(UTF_8)
    val chunks = math.max(1, (plaintext.length + ChunkSize - 1) / ChunkSize)
    val out = new Array[Byte](headerBytes.length + 16 + plaintext.length + TagLen * chunks)
    System.arraycopy(headerBytes, 0, out, 0, headerBytes.length)
    System.arraycopy(nonce, 0, out, headerBytes.length, 16)
    var pos = headerBytes.length + 16
    var off = 0
    var counter = 0L
    var done = false
    while (!done) {
      val n = math.min(ChunkSize, plaintext.length - off)
      val fin = off + n == plaintext.length
      pos += cipher(Cipher.ENCRYPT_MODE, payloadKey, chunkNonce(counter, fin))
        .doFinal(plaintext, off, n, out, pos)
      off += n
      counter += 1
      done = fin
    }
    out
  }

  // --- ASCII armor (age spec: strict PEM-style, 64-column base64 body).
  // Beyond the reference's surface (it emits binary only) but part of the
  // age v1 spec; real age tooling accepts both, so decrypt auto-detects.
  private val ArmorBegin = "-----BEGIN AGE ENCRYPTED FILE-----"
  private val ArmorEnd = "-----END AGE ENCRYPTED FILE-----"
  private val b64eP = Base64.getEncoder // padded, per armor spec

  def armor(ciphertext: Array[Byte]): String = {
    val b64 = b64eP.encodeToString(ciphertext)
    val body = b64.grouped(64).mkString("\n")
    s"$ArmorBegin\n$body\n$ArmorEnd\n"
  }

  def isArmored(data: Array[Byte]): Boolean = {
    var i = 0 // skip leading whitespace, then expect the BEGIN marker
    while (i < data.length && (data(i) == ' ' || data(i) == '\n' ||
      data(i) == '\r' || data(i) == '\t')) i += 1
    data.length - i >= ArmorBegin.length &&
      new String(data, i, ArmorBegin.length, UTF_8) == ArmorBegin
  }

  def dearmor(data: Array[Byte]): Array[Byte] = {
    val text = new String(data, UTF_8).trim
    if (!text.startsWith(ArmorBegin)) fail("not an armored age file")
    val endIdx = text.lastIndexOf(ArmorEnd)
    if (endIdx < 0) fail("armored file missing END marker")
    val body = text.substring(ArmorBegin.length, endIdx)
    val lines = body.split('\n').map(_.trim).filter(_.nonEmpty)
    // strict armor: every line 64 chars except the last (<= 64, non-empty)
    if (lines.dropRight(1).exists(_.length != 64) ||
        lines.lastOption.exists(_.length > 64)) fail("malformed armor line length")
    try Base64.getDecoder.decode(lines.mkString)
    catch { case _: IllegalArgumentException => fail("malformed armor base64") }
  }

  private def fail(cause: String): Nothing =
    throw new AgeInvalidInputException(s"Decryption failed: $cause")

  /** CANONICAL base64 decode (r19): the JDK decoder accepts non-zero
    * discarded trailing bits ("AB" decodes like "AA"), which upstream age
    * moved to strict base64 specifically to kill — on the header MAC line
    * (the one header field NOT covered by the MAC itself) lenient decoding
    * is real malleability: an attacker can flip trailing bits of the
    * final MAC character and the file still authenticates. Found by this
    * round's differential-fuzz lane design; applies to the MAC line and
    * the final (short) stanza-body line, the only unpadded-tail fields. */
  private def b64dCanonical(s: String): Array[Byte] = {
    val bytes = b64d.decode(s) // throws IllegalArgumentException on bad chars
    if (new String(b64e.encode(bytes), UTF_8) != s)
      throw new IllegalArgumentException("non-canonical base64")
    bytes
  }

  /** Parsed header stanza: type args + binary body. */
  private final case class Stanza(args: Seq[String], body: Array[Byte])

  /** Parsed header: stanzas, the exact header text through the stanzas
    * (MAC input), the MAC bytes, and the payload offset. */
  private final case class Header(stanzas: Seq[Stanza], headerText: String,
                                  mac: Array[Byte], payloadPos: Int)

  private def parseHeader(ciphertext: Array[Byte]): Header = {
    var pos = 0
    def readLine(): String = {
      val nl = {
        var i = pos
        while (i < ciphertext.length && ciphertext(i) != '\n') i += 1
        if (i >= ciphertext.length) fail("truncated header")
        i
      }
      val s = new String(ciphertext, pos, nl - pos, UTF_8)
      pos = nl + 1
      s
    }
    if (readLine() != V1Line) fail("not an age v1 file")
    val stanzas = collection.mutable.ArrayBuffer[Stanza]()
    val headerThroughStanzas = new StringBuilder(V1Line + "\n")
    var mac: Array[Byte] = null
    var parsing = true
    while (parsing) {
      val line = readLine()
      if (line.startsWith("-> ")) {
        headerThroughStanzas.append(line).append('\n')
        // limit -1: Java's default split DROPS trailing empty tokens, so a
        // trailing space would silently vanish instead of tripping the
        // empty-arg check below (found by the differential-fuzz lane)
        val args = line.drop(3).split(" ", -1).toSeq
        // spec grammar: one or more non-empty arguments of printable ASCII
        // (two adjacent spaces, a trailing space, or a control/high byte is
        // a malformed header, not a skippable stanza — r19, aligned with
        // the Python twin for the differential-fuzz lane)
        if (args.exists(a => a.isEmpty || a.exists(c => c < '!' || c > '~')))
          fail("malformed header")
        val body = new ByteArrayOutputStream()
        var bodyDone = false
        while (!bodyDone) {
          val bl = readLine()
          headerThroughStanzas.append(bl).append('\n')
          // spec wrapping: EXACTLY 64 columns until the first strictly
          // shorter line — an over-long line is malformed framing (r19
          // code review: the missing upper bound silently re-admitted
          // both spec-invalid wrapping and non-canonical trailing bits,
          // since only exactly-64-char lines are bijective)
          if (bl.length > 64) fail("malformed stanza body")
          // '=' padding is never part of a stanza body: the spec's wrapped
          // base64 is unpadded, and the JDK's lenient decoder would accept
          // terminal '='/'==' INSIDE a full 64-char line (decoding it to
          // 47 bytes and continuing the body loop) where upstream age and
          // the Python twin's canonical concatenated-body decode both
          // reject — so "full 64-char lines are bijective" only holds
          // padding-free (ADVICE r19)
          if (bl.contains('=')) fail("malformed stanza body")
          // full 64-char lines are bijective; the final short line must be
          // CANONICAL (see b64dCanonical — trailing-bit malleability)
          body.write(try {
            if (bl.length < 64) b64dCanonical(bl) else b64d.decode(bl)
          } catch {
            case _: IllegalArgumentException => fail("malformed stanza body")
          })
          if (bl.length < 64) bodyDone = true
        }
        stanzas += Stanza(args, body.toByteArray)
      } else if (line.startsWith("--- ")) {
        // strict: 32 canonical-base64 bytes — the MAC line is the one
        // header field the MAC itself cannot protect (see b64dCanonical)
        mac = try b64dCanonical(line.drop(4)) catch {
          case _: IllegalArgumentException => fail("malformed header MAC")
        }
        if (mac.length != 32) fail("malformed header MAC")
        parsing = false
      } else fail("malformed header")
    }
    if (stanzas.isEmpty) fail("no recipient stanzas")
    // UNCONDITIONAL header-validity rule (upstream age scrypt.go; r19
    // code review caught that gating it on the passphrase path let an
    // identity-path decrypt accept headers upstream rejects — an scrypt
    // stanza sharing a header with ANY other stanza can smuggle
    // recipients past a passphrase audit)
    if (stanzas.length > 1 &&
        stanzas.exists(_.args.headOption.contains("scrypt")))
      fail("scrypt stanza must be the only stanza")
    Header(stanzas.toSeq, headerThroughStanzas.toString, mac, pos)
  }

  /** Decrypt with one identity (32-byte private scalar). Error messages
    * mirror rust/src/lib.rs:188 (`Decryption failed: <cause>`). */
  def decrypt(ciphertext: Array[Byte], identityScalar: Array[Byte]): Array[Byte] =
    decrypt(ciphertext, identityScalar, X25519.derivePublic(identityScalar))

  /** [[decrypt]] with the identity's public key already derived, for
    * callers that decrypt many values with one key. */
  def decrypt(ciphertext0: Array[Byte], scalar: Array[Byte],
              ourPub: Array[Byte]): Array[Byte] = {
    val ciphertext = if (isArmored(ciphertext0)) dearmor(ciphertext0) else ciphertext0
    val h = parseHeader(ciphertext)

    // --- unwrap the file key with our identity
    var fileKey: Array[Byte] = null
    h.stanzas.foreach { st =>
      if (fileKey == null && st.args.headOption.contains("X25519") && st.args.length == 2) {
        try {
          val eph = b64d.decode(st.args(1))
          if (eph.length == 32 && st.body.length == 32) {
            val shared = X25519.sharedSecret(scalar, eph)
            fileKey = open(wrapKey(shared, eph, ourPub), new Array[Byte](12), st.body)
          }
        } catch { case _: Exception => () /* not our stanza / wrong key */ }
      }
    }
    if (fileKey == null) fail("no matching key found")
    finishDecrypt(ciphertext, h, fileKey)
  }

  /** Decrypt a passphrase-encrypted (scrypt stanza) file. */
  def decryptWithPassphrase(ciphertext0: Array[Byte], passphrase: String): Array[Byte] = {
    val ciphertext = if (isArmored(ciphertext0)) dearmor(ciphertext0) else ciphertext0
    val h = parseHeader(ciphertext)
    val st = h.stanzas.find(_.args.headOption.contains("scrypt"))
      .getOrElse(fail("no scrypt stanza found"))
    // spec: an scrypt stanza must be the only stanza in the header
    if (h.stanzas.length != 1) fail("scrypt stanza must be the only stanza")
    if (st.args.length != 3) fail("malformed scrypt stanza")
    val salt = try b64d.decode(st.args(1)) catch {
      case _: IllegalArgumentException => fail("malformed scrypt salt")
    }
    if (salt.length != 16) fail("malformed scrypt salt")
    val logN = try st.args(2).toInt catch {
      case _: NumberFormatException => fail("malformed scrypt work factor")
    }
    // canonical decimal only (upstream age rule): "+10" / "010" / "00"
    // must not alias a valid work factor (r19, differential-fuzz lane)
    if (st.args(2) != logN.toString) fail("malformed scrypt work factor")
    if (logN < 1 || logN > MaxScryptLogN) fail("scrypt work factor too large")
    val key = Scrypt.derive(passphrase.getBytes(UTF_8),
      ScryptSaltLabel.getBytes(UTF_8) ++ salt, 1 << logN, 8, 1, 32)
    val fileKey = try open(key, new Array[Byte](12), st.body) catch {
      case _: Exception => fail("incorrect passphrase")
    }
    finishDecrypt(ciphertext, h, fileKey)
  }

  /** Shared header-MAC check + STREAM payload tail of both decrypt paths. */
  private def finishDecrypt(ciphertext: Array[Byte], h: Header,
                            fileKey: Array[Byte]): Array[Byte] = {
    val pos = h.payloadPos
    // --- verify header MAC
    val hmacKey = Hkdf.derive(fileKey, Array.emptyByteArray, "header", 32)
    val expect = Hkdf.hmacSha256(hmacKey, (h.headerText + "---").getBytes(UTF_8))
    if (!MessageDigest.isEqual(expect, h.mac)) fail("header MAC mismatch")

    // --- payload
    if (ciphertext.length - pos < 16 + TagLen) fail("truncated payload")
    val nonce = java.util.Arrays.copyOfRange(ciphertext, pos, pos + 16)
    val payloadKey = Hkdf.derive(fileKey, nonce, "payload", 32)
    // STREAM: every chunk is opened straight into one pre-sized array;
    // all chunks but the last are full, the last holds 0..ChunkSize bytes
    val start = pos + 16
    val full = (ciphertext.length - start - 1) / (ChunkSize + TagLen)
    val lastLen = ciphertext.length - start - full * (ChunkSize + TagLen)
    val out = new Array[Byte](full * ChunkSize + math.max(0, lastLen - TagLen))
    def openChunk(i: Int, len: Int): Int =
      try cipher(Cipher.DECRYPT_MODE, payloadKey, chunkNonce(i, fin = i == full))
        .doFinal(ciphertext, start + i * (ChunkSize + TagLen), len, out, i * ChunkSize)
      catch { case _: Exception => fail("payload chunk authentication failed") }
    var i = 0
    while (i < full) { openChunk(i, ChunkSize + TagLen); i += 1 }
    if (lastLen < TagLen) fail("truncated payload")
    if (openChunk(full, lastLen) == 0 && full > 0)
      fail("empty final chunk in multi-chunk payload")
    out
  }
}
