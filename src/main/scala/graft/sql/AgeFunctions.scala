package graft.sql

import graft.core._
import graft.secrets.{AgeSecret, AgeSecretManager}
import java.lang.ref.WeakReference
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The reference extension's six scalar functions as Spark UDFs, plus the
  * `age_try_decrypt` null-on-failure variant (our addition — SQL queries
  * cannot catch exceptions, so predicate-style tests over failure cases
  * need it) and the `age_secrets` listing view.
  *
  * Registration mirror of /root/reference/src/age_extension.cpp:439-476.
  * Nondeterminism flags per SURVEY.md §1.4.2: keygen/encrypt must NOT be
  * constant-folded or re-ordered by Catalyst (the reference never declares
  * this to DuckDB — a latent bug there; Spark lets us do it right).
  *
  * Secret names bind when a query is analysed: the first call of a
  * function that resolves secret names reads AgeSecretManager's current
  * immutable map, every such call of that analysis closes its expression
  * over the same map, and executors receive the keys with the task — the
  * distributed equivalent of the reference's per-row catalog lookup
  * (src/age_extension.cpp:229-256, 292-320). Registration is stateless: a
  * CREATE or DROP SECRET is seen by the next query of every session
  * without registering again.
  */
object AgeFunctions {
  final case class AgeKeyPairRow(public_key: String, private_key: String)

  type Secrets = Map[String, AgeSecret]

  // ---- key resolution and per-row kernels ----

  /** src/age_extension.cpp:229-256 — non-"age1" strings resolve as secret
    * names; every lookup failure collapses to the same message the host
    * wrapper throws. */
  private def resolveRecipient(k: String, secrets: Secrets): Seq[Array[Byte]] = {
    val resolved =
      if (k.startsWith("age1")) k
      else secrets.get(k).flatMap(_.publicKey).getOrElse(
        throw new AgeInvalidInputException(
          s"Invalid age recipient key: $k (not a valid age key or secret name)"))
    AgeKeys.parseRecipient(resolved) match {
      case Right(pub) => Seq(pub)
      case Left(_) => // rust/src/lib.rs:83
        throw new AgeInvalidInputException(s"Invalid age recipient key: $resolved")
    }
  }

  /** src/age_extension.cpp:292-320 + rust/src/lib.rs:199-212 → the
    * identity's (scalar, public key). */
  private def resolveIdentity(k: String, secrets: Secrets): (Array[Byte], Array[Byte]) = {
    val resolved =
      if (k.startsWith("AGE-SECRET-KEY-1")) k
      else secrets.get(k).flatMap(_.privateKey).getOrElse(
        throw new AgeInvalidInputException(
          s"Invalid age identity key: $k (not a valid age key or secret name)"))
    AgeKeys.parseIdentity(resolved) match {
      case Right(id) => (id, X25519.derivePublic(id))
      case Left(e) => // raw identity that fails bech32 → rust parse error path
        throw new AgeInvalidInputException(s"Decryption failed: invalid identity key ($e)")
    }
  }

  /** src/age_extension.cpp:348-429 + rust/src/lib.rs:278-304. */
  private def resolveRecipients(recipients: Seq[String], secrets: Secrets): Seq[Array[Byte]] = {
    if (recipients == null || recipients.isEmpty)
      throw new AgeInvalidInputException("Recipients list cannot be empty")
    val resolved = recipients.map { k =>
      if (k.startsWith("age1")) k
      else secrets.get(k).flatMap(_.publicKey).getOrElse(
        throw new AgeInvalidInputException(s"Invalid recipient: $k"))
    }
    resolved.zipWithIndex.map { case (k, i) =>
      AgeKeys.parseRecipient(k) match {
        case Right(pub) => pub
        case Left(_) => // rust/src/lib.rs:285 (0-based position)
          throw new AgeInvalidInputException(s"Invalid recipient at position $i: $k")
      }
    }
  }

  // NULL inputs yield NULL, mirroring the host executors' null-skipping
  // (src/age_extension.cpp:199, BinaryExecutor default null handling); a
  // NULL-data row never resolves its key.
  private def encryptImpl(data: Array[Byte], recipient: String,
                          keys: String => Seq[Array[Byte]]): Array[Byte] =
    if (data == null || recipient == null) null
    else AgeFormat.encrypt(data, keys(recipient))

  private def decryptImpl(data: Array[Byte], identity: String,
                          keys: String => (Array[Byte], Array[Byte])): Array[Byte] =
    if (data == null || identity == null) null
    else { val (scalar, pub) = keys(identity); AgeFormat.decrypt(data, scalar, pub) }

  private def encryptMultiImpl(data: Array[Byte], recipients: Seq[String],
                               keys: Seq[String] => Seq[Array[Byte]]): Array[Byte] =
    if (data == null) null else AgeFormat.encrypt(data, keys(recipients))

  /** Engine version string (reference: DuckDB::LibraryVersion(),
    * src/age_extension.cpp:432-437). */
  def versionString: String = s"graft-age 0.1.0 (Spark ${org.apache.spark.SPARK_VERSION})"

  // ---- registration ----

  private def fixed(name: String, usage: String, f: UserDefinedFunction): SqlFunction[Expression] = {
    val named = f.withName(name)
    SqlFunction(name, classOf[ScalaUDF], usage, args => GraftShims.scalaUdf(named, args))
  }

  /** `kernel` closed over one registry map, its key argument resolved
    * through `resolve`. A ScalaUDF's equality includes its function, and
    * this one compares by name and map: two calls bound to equal maps are
    * one expression to GROUP BY, subexpression elimination and cached-plan
    * matching. The last key and what it resolved to are memoized; each
    * task deserializes its own plan, so the memo is task-local and dies
    * with the bound map. It is one immutable reference: a racing reader
    * recomputes the entry instead of seeing a torn one. */
  private final case class Bound[K, V, R](name: String, secrets: Secrets)(
      resolve: (K, Secrets) => V, kernel: (Array[Byte], K, K => V) => R)
      extends ((Array[Byte], K) => R) {
    @transient private var memo: (K, V) = _
    private val keys: K => V = k => {
      val m = memo
      if (m != null && m._1 == k) m._2
      else { val v = resolve(k, secrets); memo = (k, v); v }
    }
    def apply(data: Array[Byte], k: K): R = kernel(data, k, keys)
    override def toString: String = name
  }

  // the map the analysis run on this thread pinned at its first bound call
  private val pinned = new ThreadLocal[(WeakReference[AnyRef], Secrets)]

  /** The registry map for a call being analysed: read once per analysis
    * run (its subqueries and views included), so one query sees one map. */
  private def analysisSnapshot(): Secrets = GraftShims.analysisScope match {
    case None => AgeSecretManager.snapshot
    case Some(scope) => pinned.get match {
      case (ref, secrets) if ref.get eq scope => secrets
      case _ =>
        val secrets = AgeSecretManager.snapshot
        pinned.set((new WeakReference(scope), secrets))
        secrets
    }
  }

  /** A function over the registry as of its query's analysis: `toUdf`
    * builds types, encoders and flags once, and each call swaps in the
    * kernel bound to the analysis snapshot. */
  private def bound[K, V, R](name: String, usage: String)(resolve: (K, Secrets) => V)(
      kernel: (Array[Byte], K, K => V) => R)(
      toUdf: ((Array[Byte], K) => R) => UserDefinedFunction): SqlFunction[Expression] = {
    val template = toUdf(Bound(name, Map.empty)(resolve, kernel)).withName(name)
    SqlFunction(name, classOf[ScalaUDF], usage, args => GraftShims.scalaUdf(template, args)
      .copy(function = Bound(name, analysisSnapshot())(resolve, kernel)))
  }

  /** The age entries of graft's SQL function table. */
  private val entries: Seq[SqlFunction[Expression]] = Seq(
    fixed("age_keygen", "age_keygen() - fresh random keypair struct(public_key, private_key)",
      udf(() => { val kp = AgeKeys.generate(); AgeKeyPairRow(kp.publicKey, kp.privateKey) })
        .asNondeterministic()),
    fixed("age_keygen_from_seed",
      "age_keygen_from_seed(seed) - deterministic keypair struct from a binary seed",
      udf((seed: Array[Byte]) => {
        val kp = AgeKeys.fromSeed(seed); AgeKeyPairRow(kp.publicKey, kp.privateKey)
      })),
    bound("age_encrypt",
      "age_encrypt(data, recipient) - encrypt for one age1 key or secret name")(
      resolveRecipient)(encryptImpl)(udf(_).asNondeterministic()),
    bound("age_encrypt_armor",
      "age_encrypt_armor(data, recipient) - age_encrypt as ASCII-armored text")(
      resolveRecipient) { (data: Array[Byte], recipient: String, keys: String => Seq[Array[Byte]]) =>
      if (data == null || recipient == null) null
      else AgeFormat.armor(encryptImpl(data, recipient, keys))
    }(udf(_).asNondeterministic()),
    bound("age_decrypt",
      "age_decrypt(data, identity) - decrypt with one AGE-SECRET-KEY-1 key or secret name")(
      resolveIdentity)(decryptImpl)(udf(_)),
    bound("age_try_decrypt",
      "age_try_decrypt(data, identity) - age_decrypt, NULL instead of an error")(
      resolveIdentity) { (data: Array[Byte], identity: String, keys: String => (Array[Byte], Array[Byte])) =>
      try decryptImpl(data, identity, keys)
      catch { case _: AgeInvalidInputException => null }
    }(udf(_)),
    bound("age_encrypt_multi",
      "age_encrypt_multi(data, recipients) - encrypt for an array of keys or secret names")(
      resolveRecipients)(encryptMultiImpl)(udf(_).asNondeterministic()),
    // passphrase (scrypt stanza) surface — age spec coverage beyond the
    // reference's X25519-only recipients; decrypt auto-detects armor
    fixed("age_encrypt_pass", "age_encrypt_pass(data, passphrase) - passphrase encryption",
      udf((data: Array[Byte], passphrase: String) =>
        if (data == null || passphrase == null) null
        else AgeFormat.encryptWithPassphrase(data, passphrase))
        .asNondeterministic()),
    fixed("age_decrypt_pass", "age_decrypt_pass(data, passphrase) - passphrase decryption",
      udf((data: Array[Byte], passphrase: String) =>
        if (data == null || passphrase == null) null
        else AgeFormat.decryptWithPassphrase(data, passphrase))),
    fixed("age_version", "age_version() - engine version string", udf(() => versionString)))

  /** `age_secrets()`: the redacted listing of the query's analysis
    * snapshot — the `duckdb_secrets()` equivalent. */
  private[sql] val secretsTable: SqlFunction[LogicalPlan] =
    SqlFunction("age_secrets", classOf[GraftSparkExtensions],
      "age_secrets() - lists registered age secrets (name, type, provider, key_id)", _ => {
        val output = Seq("name", "type", "provider", "key_id")
          .map(AttributeReference(_, StringType, nullable = false)())
        LocalRelation(output, AgeSecretManager.list(analysisSnapshot()).map {
          case (n, t, p, k) => InternalRow(Seq(n, t, p, k).map(UTF8String.fromString): _*)
        })
      })

  /** Install the age functions, `age_secrets()` and the `age_secrets`
    * view on a session. Idempotent; the view re-reads the table function
    * on every query. */
  def register(spark: SparkSession): Unit = {
    val state = spark.sessionState
    entries.foreach(_.installIn(state.functionRegistry))
    secretsTable.installIn(state.tableFunctionRegistry)
    if (state.catalog.getTempView("age_secrets").isEmpty)
      spark.sql("CREATE OR REPLACE TEMP VIEW age_secrets AS SELECT * FROM age_secrets()")
  }
}
