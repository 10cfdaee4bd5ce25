package graft.core

import java.security.SecureRandom

/** graft.core's one source of secret randomness: generated X25519 scalars
  * (keygen and every encrypt's ephemeral share), age file keys, payload
  * nonces and scrypt salts. One `SecureRandom` per thread, because executor
  * task threads draw per row and would otherwise contend on one instance. */
private[core] object Entropy {
  private val rngTL = ThreadLocal.withInitial[SecureRandom](() => new SecureRandom())

  def bytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    rngTL.get().nextBytes(b)
    b
  }
}
