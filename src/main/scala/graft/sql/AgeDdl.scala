package graft.sql

import graft.core.AgeInvalidInputException
import graft.secrets.{AgeSecretManager, AgeSecretOptions}
import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

/** SQL DDL parity for the reference's secret surface (SURVEY.md §7 hard
  * part #2): `CREATE SECRET n (TYPE age, PUBLIC_KEY '…', …)` and
  * `DROP SECRET n` parse to custom `LeafRunnableCommand`s via a delegating
  * parser injected through `SparkSessionExtensions` — Spark has no secret
  * DDL, so this is the (c)-level custom-plan route: parser → logical
  * command → execution against the driver-side secret registry.
  *
  * Grammar mirrors /root/reference test/sql/age_secret.test:15-35 and
  * src/age_extension.cpp:144-162 (named params: public_key, private_key,
  * public_key_file, private_key_file, key_id; TYPE age required).
  */
/** A secret parameter value: a literal, or a scalar subquery evaluated at
  * command run time — the reference's documented key-rotation workflow is
  * `CREATE SECRET k (TYPE age, PUBLIC_KEY (SELECT (age_keygen()).public_key))`
  * (reference FUNCTIONS.md:414-419). */
sealed trait SecretParamValue
final case class LitParam(value: String) extends SecretParamValue
final case class SubqueryParam(sql: String) extends SecretParamValue

case class CreateAgeSecretCommand(name: String,
                                  params: Seq[(String, SecretParamValue)],
                                  replace: Boolean = false,
                                  ifNotExists: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("result", StringType, nullable = false)())

  // plan strings (explain, UI, event log) name the parameters, never their
  // values: a key literal or a subquery producing one must not show there
  override protected def stringArgs: Iterator[Any] = Iterator(name, params.map(_._1))

  private def resolve(spark: SparkSession, v: SecretParamValue): String = v match {
    case LitParam(s) => s
    case SubqueryParam(q) =>
      val rows = spark.sql(q).collect()
      if (rows.length != 1 || rows(0).length != 1)
        throw new AgeInvalidInputException(
          s"Secret parameter subquery must return exactly one value: ($q)")
      Option(rows(0).get(0)).map(_.toString).getOrElse(
        throw new AgeInvalidInputException(
          s"Secret parameter subquery returned NULL: ($q)"))
  }

  override def run(sparkSession: SparkSession): Seq[Row] = {
    var opts = AgeSecretOptions()
    params.foreach { case (key, raw) =>
      val v = resolve(sparkSession, raw)
      key match {
        case "PUBLIC_KEY"       => opts = opts.copy(publicKey = Some(v))
        case "PRIVATE_KEY"      => opts = opts.copy(privateKey = Some(v))
        case "PUBLIC_KEY_FILE"  => opts = opts.copy(publicKeyFile = Some(v))
        case "PRIVATE_KEY_FILE" => opts = opts.copy(privateKeyFile = Some(v))
        case "KEY_ID"           => opts = opts.copy(keyId = Some(v))
      }
    }
    AgeSecretManager.create(name, opts, replace = replace, ifNotExists = ifNotExists)
    Seq(Row(s"Secret '$name' created"))
  }
}

case class DropAgeSecretCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("result", StringType, nullable = false)())
  override def run(sparkSession: SparkSession): Seq[Row] = {
    AgeSecretManager.drop(name)
    Seq(Row(s"Secret '$name' dropped"))
  }
}

object AgeDdlParser {
  // CREATE [OR REPLACE] SECRET [IF NOT EXISTS] name (...): same modifier
  // grammar as the host engine's secret DDL (DuckDB Secrets Manager docs)
  private val CreateRe =
    """(?is)\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?SECRET\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)\s*;?\s*""".r
  private val DropRe =
    """(?is)\s*DROP\s+SECRET\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r

  private val knownParams = Set("PUBLIC_KEY", "PRIVATE_KEY",
    "PUBLIC_KEY_FILE", "PRIVATE_KEY_FILE", "KEY_ID")

  private def malformed(rest: String): Nothing =
    throw new AgeInvalidInputException(s"Malformed secret parameter: ${rest.trim}")

  /** Quote- and paren-aware parameter scan. Three value forms:
    * `'quoted'` (commas/spaces allowed inside), `bare_token`, and
    * `(SELECT …)` — a balanced-paren scalar subquery, kept verbatim for
    * run-time evaluation. */
  private def parseParams(body: String): Seq[(String, SecretParamValue)] = {
    val out = scala.collection.mutable.ListBuffer[(String, SecretParamValue)]()
    var i = 0
    def skipWs(): Unit = while (i < body.length && body(i).isWhitespace) i += 1
    while ({ skipWs(); i < body.length }) {
      val ks = i
      while (i < body.length && (body(i).isLetterOrDigit || body(i) == '_')) i += 1
      if (i == ks) malformed(body.substring(ks))
      val key = body.substring(ks, i)
      skipWs()
      val value: SecretParamValue =
        if (i < body.length && body(i) == '\'') {
          i += 1; val vs = i
          while (i < body.length && body(i) != '\'') i += 1
          if (i >= body.length) malformed(body.substring(ks))
          val v = body.substring(vs, i); i += 1
          LitParam(v)
        } else if (i < body.length && body(i) == '(') {
          val vs = i; var depth = 0; var inQuote = false
          while (i < body.length && (depth > 0 || i == vs)) {
            val c = body(i)
            if (inQuote) { if (c == '\'') inQuote = false }
            else if (c == '\'') inQuote = true
            else if (c == '(') depth += 1
            else if (c == ')') depth -= 1
            i += 1
          }
          if (depth != 0) malformed(body.substring(ks))
          SubqueryParam(body.substring(vs + 1, i - 1).trim)
        } else {
          val vs = i
          while (i < body.length && body(i) != ',' && !body(i).isWhitespace) i += 1
          if (i == vs) malformed(body.substring(ks))
          LitParam(body.substring(vs, i))
        }
      skipWs()
      if (i < body.length) {
        if (body(i) == ',') i += 1 else malformed(body.substring(i))
      }
      out += key -> value
    }
    out.toList
  }

  /** Returns a command plan iff the statement is age-secret DDL. */
  def parseSecretDdl(sqlText: String): Option[LogicalPlan] = sqlText match {
    case CreateRe(orReplace, ifNotExistsMod, name, body) =>
      if (orReplace != null && ifNotExistsMod != null)
        throw new AgeInvalidInputException(
          "Cannot combine OR REPLACE with IF NOT EXISTS")
      var secretType: Option[String] = None
      val params = scala.collection.mutable.ListBuffer[(String, SecretParamValue)]()
      parseParams(body).foreach { case (key, v) =>
        key.toUpperCase match {
          case "TYPE" => v match {
            case LitParam(t) => secretType = Some(t.toLowerCase)
            case SubqueryParam(_) =>
              throw new AgeInvalidInputException("Secret type must be 'age', got: <subquery>")
          }
          case k if knownParams.contains(k) => params += k -> v
          case other =>
            throw new AgeInvalidInputException(s"Unknown secret parameter: $other")
        }
      }
      if (!secretType.contains("age"))
        throw new AgeInvalidInputException(
          s"Secret type must be 'age', got: ${secretType.getOrElse("<none>")}")
      Some(CreateAgeSecretCommand(name, params.toList,
        replace = orReplace != null, ifNotExists = ifNotExistsMod != null))
    case DropRe(name) => Some(DropAgeSecretCommand(name))
    case _            => None
  }
}

/** Delegating parser: age-secret DDL handled here, everything else passes
  * through to the session's default parser. */
class AgeDdlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    AgeDdlParser.parseSecretDdl(sqlText).getOrElse(delegate.parsePlan(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** One SQL function graft installs: its name, the class it builds (what
  * DESCRIBE FUNCTION reports), its usage line, and the builder Catalyst
  * calls with the argument expressions whenever a query resolves the name.
  * `usage` starts with the signature `name(p1, …)`, which fixes the arity
  * checked before `build` runs. */
final case class SqlFunction[T](name: String, impl: Class[_], usage: String,
                                build: Seq[Expression] => T) {
  private val signature = usage.take(usage.indexOf(')') + 1)
  private val arity = signature.drop(name.length + 1).dropRight(1).split(',').count(_.trim.nonEmpty)

  private def checked(args: Seq[Expression]): T = {
    if (args.length != arity)
      throw new AgeInvalidInputException(
        if (arity == 0) s"$signature takes no arguments"
        else s"$signature takes exactly $arity argument${if (arity == 1) "" else "s"}")
    build(args)
  }

  // one instance each, so installing into a registry again is a silent no-op
  val description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => T) =
    (FunctionIdentifier(name), new ExpressionInfo(impl.getName, name, usage),
      checked)

  def installIn(registry: FunctionRegistryBase[T]): Unit = {
    val (id, info, builder) = description
    registry.registerFunction(id, info, builder)
  }
}

object SqlFunction {
  /** An integer-literal parameter `what` of function `fn`, at least `min`. */
  def intLit(fn: String, what: String, e: Expression, min: Int = Int.MinValue): Int = e match {
    case Literal(v: Int, IntegerType) =>
      if (v < min) throw new AgeInvalidInputException(s"$fn: $what must be >= $min")
      v
    case _ => throw new AgeInvalidInputException(s"$fn: $what must be an integer literal")
  }
}

/** Session extension point: `SparkSession.builder().withExtensions(new
  * GraftSparkExtensions)` (or spark.sql.extensions=graft.sql.GraftSparkExtensions)
  * turns on the secret DDL, the `age_secrets()` table function, the plan
  * rules and the native functions of [[GraftSparkExtensions.natives]]. The
  * age scalar functions stay explicit via AgeFunctions.register (mirroring
  * the reference's LOAD-time hook). That registration is stateless: the
  * functions bind secret names when a query is analysed. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectParser((_, delegate) => new AgeDdlParser(delegate))
    // COUNT(DISTINCT <integral>) → paged-bitmap aggregate: standard SQL
    // gets the no-Expand plan automatically (see the rule's scaladoc)
    extensions.injectOptimizerRule(_ => graft.plans.RewriteExactDistinctToBitmap)
    // whole-operator tier: logical TopKPerGroup → partial/final bounded-heap
    // physical pair (see graft.plans.TopKPerGroup scaladoc)
    extensions.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // a global sort of a broadcast-sized input: one task, no range sampling
    extensions.injectPlannerStrategy(_ => graft.plans.SmallGlobalSort)
    GraftSparkExtensions.natives.foreach(f => extensions.injectFunction(f.description))
    extensions.injectTableFunction(AgeFunctions.secretsTable.description)
  }
}

object GraftSparkExtensions {
  import SqlFunction.intLit
  import graft.functions._

  /** graft's native expressions and aggregates, reachable from pure SQL
    * (not just the Scala DSL). The analyzer wraps a returned
    * AggregateFunction in a Complete AggregateExpression itself. */
  val natives: Seq[SqlFunction[Expression]] = Seq(
    SqlFunction("cosine_sim", classOf[CosineSim],
      "cosine_sim(a, b) - codegen cosine similarity of two float/double arrays",
      a => CosineSim(a(0), a(1))),
    SqlFunction("cosine_sim_pair", classOf[CosineSimPair],
      "cosine_sim_pair(a, b, prefix_len) - struct(full, prefix) cosine from one " +
        "vector traversal; prefix_len must be an integer literal",
      a => CosineSimPair(a(0), a(1), intLit("cosine_sim_pair", "prefix_len", a(2)))),
    SqlFunction("token_stats", classOf[TokenStats],
      "token_stats(text) - [n_tokens, n_subwords, n_chars] per row, split-on-space semantics",
      a => TokenStats(a(0))),
    SqlFunction("repetition_stats", classOf[RepetitionStats],
      "repetition_stats(text) - [top2gram_count, n_2grams, top3gram_count, " +
        "n_3grams] per row, split-on-space word-gram semantics",
      a => RepetitionStats(a(0))),
    SqlFunction("band_keys", classOf[BandKeys],
      "band_keys(vec, n_planes, band_size) - LSH band keys of a float/double " +
        "array; n_planes and band_size must be integer literals",
      a => BandKeys(a(0), intLit("band_keys", "n_planes", a(1)),
        intLit("band_keys", "band_size", a(2)))),
    SqlFunction("substring_run_fps", classOf[SubstringRunFps],
      "substring_run_fps(text, w) - md5 hex fingerprint per w-token " +
        "window (array index = window start token), one zero-copy byte " +
        "pass; w must be an integer literal",
      a => SubstringRunFps(a(0), intLit("substring_run_fps", "w", a(1), min = 1))),
    SqlFunction("audio_fp", classOf[AudioFp],
      "audio_fp(pcm, frame_samples, n_frames, threshold) - packed-bits " +
        "LONG fingerprint of a 16-bit LE PCM binary payload (bit f set " +
        "iff frame f's integer energy exceeds threshold), one byte " +
        "pass; the three parameters must be integer literals",
      a => AudioFp(a(0), intLit("audio_fp", "frame_samples", a(1)),
        intLit("audio_fp", "n_frames", a(2)), a(3) match {
          case Literal(v: Long, LongType) => v
          case e => intLit("audio_fp", "threshold", e).toLong
        })),
    SqlFunction("cdc_chunks", classOf[CdcChunks],
      "cdc_chunks(text, mod) - content-defined-chunking ledger " +
        "array<struct<chunk, fp, n_chars>> per document (h28-mod " +
        "boundary words end their chunk), one byte pass; mod must be " +
        "an integer literal",
      a => CdcChunks(a(0), intLit("cdc_chunks", "mod", a(1), min = 1))),
    SqlFunction("minhash_sig", classOf[MinHashSig],
      "minhash_sig(text) - one-pass K=8 MinHash signature of the document's " +
        "3-word shingle set (null when the document has fewer than 3 words)",
      a => MinHashSig(a(0))),
    SqlFunction("minhash_agg", classOf[MinHashAgg],
      "minhash_agg(hash) - K-permutation MinHash signature of a group of 28-bit hashes",
      a => MinHashAgg(a(0))),
    SqlFunction("simhash_agg", classOf[SimHashAgg],
      "simhash_agg(h1, h2) - 56-bit SimHash of a group of paired 28-bit word hashes",
      a => SimHashAgg(a(0), a(1))),
    SqlFunction("cms_agg", classOf[CmsAgg],
      "cms_agg(hash) - 4x256 Count-Min-Sketch counter grid over 28-bit item hashes",
      a => CmsAgg(a(0))),
    SqlFunction("sum128_agg", classOf[Sum128Agg],
      "sum128_agg(x) - exact 128-bit integer SUM of a BIGINT column, emitted as decimal digits",
      a => Sum128Agg(a(0))),
    SqlFunction("bitmap_distinct", classOf[BitmapDistinct],
      "bitmap_distinct(c) - exact COUNT(DISTINCT) of an integral/date column via paged bitmaps",
      a => BitmapDistinct(a(0))),
    SqlFunction("topk_agg", classOf[TopKAgg],
      "topk_agg(score, id, k) - bounded-heap top-k (score desc, id asc); k must be an integer literal",
      a => TopKAgg(a(0), a(1), intLit("topk_agg", "k", a(2)))))
}
