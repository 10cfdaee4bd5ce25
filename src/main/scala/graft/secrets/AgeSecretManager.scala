package graft.secrets

import graft.core.AgeInvalidInputException
import java.nio.file.{Files, Paths}

/** Options for CREATE SECRET (TYPE age) — mirrors the reference's named
  * parameters (/root/reference/src/age_extension.cpp:155-159). */
final case class AgeSecretOptions(
    publicKey: Option[String] = None,
    privateKey: Option[String] = None,
    publicKeyFile: Option[String] = None,
    privateKeyFile: Option[String] = None,
    keyId: Option[String] = None)

/** A registered age secret. `toString` redacts the private key, mirroring
  * the reference's `redact_keys` marking (src/age_extension.cpp:120-121). */
final case class AgeSecret(
    name: String,
    publicKey: Option[String],
    privateKey: Option[String],
    keyId: Option[String]) {
  override def toString: String =
    s"AgeSecret($name, public_key=${publicKey.getOrElse("")}, " +
      s"private_key=${if (privateKey.isDefined) "***REDACTED***" else ""}, " +
      s"key_id=${keyId.getOrElse("")})"
}

/** Driver-side secret registry with the reference's validation ladder
  * (/root/reference/src/age_extension.cpp:73-142) and error strings
  * (SURVEY.md §5.3). The registry is one immutable map; CREATE and DROP
  * replace it under one lock, reads take the current map without one. Key
  * files are read on the driver only. graft.sql.AgeFunctions binds the map
  * current when a query is analysed into that query's expressions, so
  * executors receive the keys with the task — the Spark-native equivalent
  * of the reference's per-row catalog lookup.
  */
object AgeSecretManager {
  @volatile private var secrets = Map.empty[String, AgeSecret]

  /** Max key-file size, mirroring src/age_extension.cpp:58-60. */
  private val MaxKeyFileBytes = 1024 * 1024

  private def fail(msg: String): Nothing = throw new AgeInvalidInputException(msg)

  /** Mirrors ReadKeyFromFile (src/age_extension.cpp:47-71): existence check,
    * 1 MB cap, whitespace trim. */
  private def readKeyFromFile(path: String): String = {
    val p = Paths.get(path)
    if (!Files.isReadable(p))
      fail(s"Key file does not exist or cannot be opened: $path")
    if (Files.size(p) > MaxKeyFileBytes)
      fail(s"Key file too large (max 1MB): $path")
    new String(Files.readAllBytes(p), "UTF-8").trim
  }

  /** Create a secret. Duplicate-name semantics mirror the host engine's
    * (DuckDB docs, Secrets Manager): plain CREATE on an existing name is an
    * error, CREATE OR REPLACE overwrites, CREATE IF NOT EXISTS keeps the
    * existing secret untouched. */
  def create(name: String, opts: AgeSecretOptions,
             replace: Boolean = false, ifNotExists: Boolean = false): AgeSecret = synchronized {
    secrets.get(name) match {
      case Some(existing) if ifNotExists => existing
      case Some(_) if !replace =>
        fail(s"Secret with name '$name' already exists")
      case _ =>
        val secret = validated(name, opts)
        secrets += name -> secret
        secret
    }
  }

  private def validated(name: String, opts: AgeSecretOptions): AgeSecret = {
    // public key: inline XOR file (ladder order mirrors the reference)
    if (opts.publicKey.isDefined && opts.publicKeyFile.isDefined)
      fail("Cannot specify both 'public_key' and 'public_key_file'")
    val pub: Option[String] = opts.publicKey match {
      case Some(k) =>
        if (!k.startsWith("age1")) fail("Age public key must start with 'age1'")
        Some(k)
      case None => opts.publicKeyFile.map { path =>
        try {
          val k = readKeyFromFile(path)
          if (!k.startsWith("age1"))
            fail("Age public key from file must start with 'age1'")
          k
        } catch {
          case e: AgeInvalidInputException =>
            fail(s"Failed to read public key file: ${e.getMessage}")
        }
      }
    }
    if (opts.privateKey.isDefined && opts.privateKeyFile.isDefined)
      fail("Cannot specify both 'private_key' and 'private_key_file'")
    val priv: Option[String] = opts.privateKey match {
      case Some(k) =>
        if (!k.startsWith("AGE-SECRET-KEY-1"))
          fail("Age private key must start with 'AGE-SECRET-KEY-1'")
        Some(k)
      case None => opts.privateKeyFile.map { path =>
        try {
          val k = readKeyFromFile(path)
          if (!k.startsWith("AGE-SECRET-KEY-1"))
            fail("Age private key from file must start with 'AGE-SECRET-KEY-1'")
          k
        } catch {
          case e: AgeInvalidInputException =>
            fail(s"Failed to read private key file: ${e.getMessage}")
        }
      }
    }
    AgeSecret(name, pub, priv, opts.keyId)
  }

  def drop(name: String): Unit = synchronized {
    if (!secrets.contains(name)) fail(s"Secret '$name' not found")
    secrets -= name
  }

  def get(name: String): Option[AgeSecret] = secrets.get(name)

  /** The current registry, for binding into a query at analysis time. */
  def snapshot: Map[String, AgeSecret] = secrets

  /** Redacted listing rows of one registry map, the `duckdb_secrets()`
    * equivalent (test/sql/age_secret.test:22-26). The reference carries
    * key_id in the secret's named-value map (age_secret.test:31-35 creates
    * with key_id), so the listing surfaces it; keys stay redacted. */
  def list(registry: Map[String, AgeSecret]): Seq[(String, String, String, String)] =
    registry.toSeq.sortBy(_._1).map { case (n, s) => (n, "age", "config", s.keyId.getOrElse("")) }

  def clear(): Unit = synchronized { secrets = Map.empty }
}
