package graft.core

import java.math.BigInteger
import java.security.{InvalidKeyException, KeyFactory}
import java.security.spec.{NamedParameterSpec, XECPrivateKeySpec, XECPublicKeySpec}
import javax.crypto.KeyAgreement

import org.scalatest.funsuite.AnyFunSuite

/** graft's X25519 ladder against the JDK's XDH provider, which serves here
  * as an independent reference (test scope only, as GraphX is for StarCC),
  * plus the RFC 7748 §5.2 vectors and the low-order blocklist. */
class X25519DifferentialSpec extends AnyFunSuite {
  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private def toHex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private val kf = KeyFactory.getInstance("XDH")
  private val ka = KeyAgreement.getInstance("XDH")
  private val params = NamedParameterSpec.X25519

  /** RFC 7748 X25519 on the JDK: u is decoded LE with bit 255 masked and
    * handed over unreduced. The JDK throws InvalidKeyException on an
    * all-zero result. */
  private def jdkDh(scalar: Array[Byte], u: Array[Byte]): Array[Byte] = {
    val be = u.reverse
    be(0) = (be(0) & 0x7f).toByte
    ka.init(kf.generatePrivate(new XECPrivateKeySpec(params, scalar)))
    ka.doPhase(kf.generatePublic(new XECPublicKeySpec(params, new BigInteger(1, be))), true)
    ka.generateSecret()
  }
  private def jdkPublic(scalar: Array[Byte]): Array[Byte] = {
    val base = new Array[Byte](32); base(0) = 9
    jdkDh(scalar, base)
  }

  private val p = BigInteger.ONE.shiftLeft(255).subtract(BigInteger.valueOf(19))
  private def le(n: BigInteger): Array[Byte] = {
    val be = n.toByteArray
    Array.tabulate[Byte](32)(i => if (i < be.length) be(be.length - 1 - i) else 0)
  }

  test("sharedSecret and derivePublic match the JDK on 10,000 seeded pairs, u >= p and bit 255 included") {
    val rnd = new scala.util.Random(7748)
    var highBit, nonCanonical = 0
    for (i <- 0 until 10000) {
      val scalar = Array.fill[Byte](32)(rnd.nextInt(256).toByte)
      // a fifth in [p + 2, 2^255) (p and p + 1 are low-order, below), with
      // bit 255 set on those and on another fifth
      val u =
        if (i % 5 == 0) le(p.add(BigInteger.valueOf(2 + rnd.nextInt(17))))
        else Array.fill[Byte](32)(rnd.nextInt(256).toByte)
      u(31) = (if (i % 5 < 2) u(31) | 0x80 else u(31) & 0x7f).toByte
      if ((u(31) & 0x80) != 0) highBit += 1
      val masked = u.clone(); masked(31) = (masked(31) & 0x7f).toByte
      if (new BigInteger(1, masked.reverse).compareTo(p) >= 0) nonCanonical += 1
      assert(toHex(X25519.sharedSecret(scalar, u)) == toHex(jdkDh(scalar, u)),
        s"pair $i: scalar ${toHex(scalar)} u ${toHex(u)}")
      assert(toHex(X25519.derivePublic(scalar)) == toHex(jdkPublic(scalar)),
        s"pair $i: scalar ${toHex(scalar)}")
    }
    assert(highBit == 4000 && nonCanonical >= 2000)
  }

  test("RFC 7748 §5.2 vectors: the bit-255 call, then 1 and 1,000 iterations") {
    // this u has bit 255 set, which must be masked (CryptoCoreSpec has the other call)
    assert(toHex(X25519.sharedSecret(
      hex("4b66e9d4d1b4673c5ad22691957d6af5c11b6421e0ea01d42ca4169e7918ba0d"),
      hex("e5210f12786811d3f4b7959d0538ae2c31dbe7106fc03c3efc4cd549c715a493")))
      == "95cbde9476e8907d7aade45cb4b873f88b595a68799fa152e6f8f7647aac7957")
    var k = hex("09" + "00" * 31)
    var u = k.clone()
    for (i <- 1 to 1000) {
      val r = X25519.sharedSecret(k, u)
      u = k; k = r
      if (i == 1) assert(toHex(k) == "422c8e7a6227d7bca1350b3e2bb7279f7897b87bb6854b783c60e80311ae3079")
    }
    assert(toHex(k) == "684cf59ba83309552800ef566f2f4d3c1c3887c49360e3875f2eb94d99532c51")
  }

  // libsodium's X25519 blocklist: 0, 1, the two points of order 8, p − 1,
  // p and p + 1; bit 255 is ignored, so each also appears with it set.
  private val lowOrder = Seq(
    "0000000000000000000000000000000000000000000000000000000000000000",
    "0100000000000000000000000000000000000000000000000000000000000000",
    "e0eb7a7c3b41b8ae1656e3faf19fc46ada098deb9c32b1fd866205165f49b800",
    "5f9c95bca3508c24b1d0b1559c83ef5b04445cc4581c8e86d8224eddd09f1157",
    "ecffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff7f",
    "edffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff7f",
    "eeffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff7f")

  test("every low-order point raises the all-zero error, as the JDK rejects it") {
    val rnd = new scala.util.Random(19)
    for (h <- lowOrder; top <- Seq(0, 0x80); _ <- 1 to 3) {
      val u = hex(h); u(31) = (u(31) | top).toByte
      val scalar = Array.fill[Byte](32)(rnd.nextInt(256).toByte)
      val e = intercept[IllegalArgumentException](X25519.sharedSecret(scalar, u))
      assert(e.getMessage == "all-zero X25519 shared secret", toHex(u))
      intercept[InvalidKeyException](jdkDh(scalar, u))
    }
  }

  test("generateKeyPair's public key is the JDK's derivation of its private scalar") {
    for (_ <- 1 to 100) {
      val (priv, pub) = X25519.generateKeyPair()
      assert(priv.length == 32)
      assert(toHex(pub) == toHex(jdkPublic(priv)))
    }
  }
}
