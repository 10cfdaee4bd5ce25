package graft.core

import java.math.BigInteger
import java.security.{KeyFactory, KeyPairGenerator}
import java.security.interfaces.{XECPrivateKey, XECPublicKey}
import java.security.spec.{NamedParameterSpec, XECPrivateKeySpec, XECPublicKeySpec}
import javax.crypto.KeyAgreement

/** X25519 (RFC 7748) on the JDK's XDH provider, graft's only curve code.
  *
  * The JDK exposes Diffie-Hellman (`KeyAgreement("XDH")`) but not
  * scalar·basepoint, so public-key derivation is DH with the base point
  * u = 9. Nothing here keeps state beyond per-thread provider instances:
  * callers that reuse a key (the age SQL functions, once per key per
  * task) hold its derived public key themselves.
  */
object X25519 {
  private val paramSpec = NamedParameterSpec.X25519

  def clamp(scalar: Array[Byte]): Array[Byte] = {
    require(scalar.length == 32, "X25519 scalar must be 32 bytes")
    val s = scalar.clone()
    s(0) = (s(0) & 248).toByte
    s(31) = (s(31) & 127).toByte
    s(31) = (s(31) | 64).toByte
    s
  }

  /** Little-endian 32-byte u-coordinate → BigInteger, top bit masked. */
  private def decodeLE(b: Array[Byte]): BigInteger = {
    val be = b.reverse
    be(0) = (be(0) & 0x7f).toByte
    new BigInteger(1, be)
  }

  /** A reduced u-coordinate (as the JDK's keys hold it) → 32 bytes LE. */
  private def encodeLE(n: BigInteger): Array[Byte] = {
    val be = n.toByteArray.dropWhile(_ == 0)
    val out = new Array[Byte](32)
    var i = 0
    while (i < be.length) { out(i) = be(be.length - 1 - i); i += 1 }
    out
  }

  private val basepoint: Array[Byte] = { val b = new Array[Byte](32); b(0) = 9; b }

  /** Public key (u-coordinate, 32 bytes LE) for a private scalar. */
  def derivePublic(scalar: Array[Byte]): Array[Byte] = sharedSecret(scalar, basepoint)

  // Per-thread JDK service instances: getInstance() walks the provider
  // registry on every call, which dominates per-row DH cost when executor
  // threads run the kernel millions of times.
  private val kpgTL = ThreadLocal.withInitial[KeyPairGenerator](
    () => KeyPairGenerator.getInstance("X25519"))
  private val kfTL = ThreadLocal.withInitial[KeyFactory](
    () => KeyFactory.getInstance("XDH"))
  private val kaTL = ThreadLocal.withInitial[KeyAgreement](
    () => KeyAgreement.getInstance("XDH"))

  /** Fresh random keypair → (privateScalar32, publicU32), both little-endian raw. */
  def generateKeyPair(): (Array[Byte], Array[Byte]) = {
    val kp = kpgTL.get().generateKeyPair()
    val priv = kp.getPrivate.asInstanceOf[XECPrivateKey].getScalar.orElseThrow(
      () => new IllegalStateException("JDK X25519 private key has no scalar"))
    val pubU = kp.getPublic.asInstanceOf[XECPublicKey].getU
    (priv, encodeLE(pubU))
  }

  /** X25519 DH via the JDK provider. Throws on all-zero shared secret. */
  def sharedSecret(privateScalar: Array[Byte], publicU: Array[Byte]): Array[Byte] = {
    val kf = kfTL.get()
    val priv = kf.generatePrivate(new XECPrivateKeySpec(paramSpec, clamp(privateScalar)))
    val pub = kf.generatePublic(new XECPublicKeySpec(paramSpec, decodeLE(publicU)))
    val ka = kaTL.get()
    ka.init(priv)
    ka.doPhase(pub, true)
    val out = ka.generateSecret()
    if (out.forall(_ == 0)) throw new IllegalArgumentException("all-zero X25519 shared secret")
    out
  }
}
