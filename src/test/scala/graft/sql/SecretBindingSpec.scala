package graft.sql

import graft.TestSpark
import graft.core.AgeKeys
import graft.secrets.{AgeSecretManager, AgeSecretOptions}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal, ScalaUDF}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

/** Secrets bind when a query is analysed: sessions registered earlier see
  * later CREATE/DROPs without registering again, an analysed query keeps
  * its map, the registry's mutations are atomic, and no plan string,
  * listener event, listing row or error message carries a private key. */
class SecretBindingSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  override def beforeAll(): Unit = {
    AgeSecretManager.clear()
    AgeFunctions.register(spark)
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq

  test("secret DDL, listings, plans, listener events and errors never show the private key") {
    val kp = AgeKeys.fromSeed("leak-audit".getBytes("UTF-8"))
    val events = new ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => events.add(s)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val texts = Seq.newBuilder[String]
    try {
      val create = spark.sql(s"CREATE SECRET leak_k (TYPE age, " +
        s"PUBLIC_KEY '${kp.publicKey}', PRIVATE_KEY '${kp.privateKey}')")
      texts += create.queryExecution.toString
      val roundTrip = spark.sql("SELECT CAST(age_decrypt(" +
        "age_encrypt(CAST('audit' AS BINARY), 'leak_k'), 'leak_k') AS STRING)")
      assert(roundTrip.head().getString(0) == "audit")
      texts += roundTrip.queryExecution.toString
      texts += spark.sql("SELECT * FROM age_secrets").collect().mkString
      texts += spark.sql("SELECT * FROM age_secrets()").collect().mkString
      val failed = intercept[Throwable](
        spark.sql("SELECT age_decrypt(CAST('not age' AS BINARY), 'leak_k')").collect())
      assert(messages(failed).exists(_.contains("Decryption failed")), messages(failed))
      texts ++= messages(failed)
      // events are delivered in order: once this marker's is seen, all are
      spark.sql("SELECT 'leak-audit-end'").collect()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!events.asScala.exists(_.physicalPlanDescription.contains("leak-audit-end")) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      val seen = events.asScala.toSeq
      assert(seen.exists(_.physicalPlanDescription.contains("leak_k")))
      texts ++= seen.flatMap(e => Seq(e.description, e.details, e.physicalPlanDescription))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      AgeSecretManager.drop("leak_k")
    }
    val leaks = texts.result().filter(_.contains(kp.privateKey))
    assert(leaks.isEmpty, leaks.mkString("\n---\n"))
  }

  test("a subquery parameter's text stays out of the command's plan string") {
    val create = spark.sql("CREATE SECRET leak_q (TYPE age, PRIVATE_KEY " +
      "(SELECT (age_keygen_from_seed(CAST('leak-q' AS BINARY))).private_key))")
    try {
      val plan = create.queryExecution.toString
      assert(plan.contains("leak_q") && plan.contains("PRIVATE_KEY"), plan)
      assert(!plan.contains("age_keygen_from_seed"), plan)
    } finally AgeSecretManager.drop("leak_q")
  }

  test("concurrent plain CREATEs of one name: exactly one succeeds") {
    val pubFile = java.nio.file.Files.createTempFile("race-pub", ".txt")
    java.nio.file.Files.writeString(pubFile, AgeKeys.generate().publicKey)
    val pool = Executors.newFixedThreadPool(8)
    try for (round <- 0 until 20) {
      val name = s"race_$round"
      val start = new CountDownLatch(1)
      val results = (0 until 8).map(_ => pool.submit(() => {
        start.await()
        Try(AgeSecretManager.create(name,
          AgeSecretOptions(publicKeyFile = Some(pubFile.toString))))
      }))
      start.countDown()
      val outcomes = results.map(_.get(60, TimeUnit.SECONDS))
      AgeSecretManager.drop(name)
      assert(outcomes.count(_.isSuccess) == 1, s"round $round")
      val errors = outcomes.collect { case Failure(e) => e.getMessage }
      assert(errors.forall(_.contains(s"Secret with name '$name' already exists")), errors)
    } finally {
      pool.shutdownNow()
      java.nio.file.Files.deleteIfExists(pubFile)
    }
  }

  test("a session registered before CREATE resolves the secret; DROP fails its next query") {
    val other = spark.newSession()
    AgeFunctions.register(other)
    val kp = AgeKeys.fromSeed("cross-session".getBytes("UTF-8"))
    spark.sql(s"CREATE SECRET xs_k (TYPE age, " +
      s"PUBLIC_KEY '${kp.publicKey}', PRIVATE_KEY '${kp.privateKey}')")
    def roundTrip(text: String) = other.sql(s"SELECT CAST(age_decrypt(" +
      s"age_encrypt(CAST('$text' AS BINARY), 'xs_k'), 'xs_k') AS STRING)")
    assert(roundTrip("first").head().getString(0) == "first")
    assert(other.sql("SELECT count(*) FROM age_secrets WHERE name = 'xs_k'")
      .head().getLong(0) == 1L)
    val analysedBeforeDrop = roundTrip("bound")
    spark.sql("DROP SECRET xs_k")
    val e = intercept[Throwable](
      other.sql("SELECT age_encrypt(CAST('x' AS BINARY), 'xs_k')").collect())
    assert(messages(e).exists(_.contains("Invalid age recipient key: xs_k")), messages(e))
    // bound to the map as of its analysis, so it still runs
    assert(analysedBeforeDrop.head().getString(0) == "bound")
  }

  test("keygen and encrypt stay nondeterministic; arity errors name the signature") {
    val pub = AgeKeys.generate().publicKey
    val df = spark.sql("SELECT age_keygen() AS a, " +
      s"age_encrypt(CAST('x' AS BINARY), '$pub') AS b, age_version() AS c")
    val Seq(keygen, encrypt, version) = df.queryExecution.analyzed.expressions
    assert(!keygen.deterministic && !encrypt.deterministic && version.deterministic)
    val e = intercept[Throwable](spark.sql("SELECT age_encrypt(CAST('x' AS BINARY))").collect())
    assert(messages(e).exists(_.contains("age_encrypt(data, recipient) takes exactly 2 arguments")),
      messages(e))
  }

  test("calls bound to one map are one expression: GROUP BY, repeated calls, cached views") {
    val kp = AgeKeys.fromSeed("group-by".getBytes("UTF-8"))
    spark.sql(s"CREATE SECRET grp_k (TYPE age, " +
      s"PUBLIC_KEY '${kp.publicKey}', PRIVATE_KEY '${kp.privateKey}')")
    val session = spark
    import session.implicits._
    try {
      Seq("a", "b", "a").map(t => spark.sql(s"SELECT age_encrypt(CAST('$t' AS BINARY), 'grp_k')")
        .head().getAs[Array[Byte]](0)).toDF("ct").createOrReplaceTempView("grp_ct")
      val counts = spark.sql("SELECT CAST(age_decrypt(ct, 'grp_k') AS STRING), count(*) " +
        "FROM grp_ct GROUP BY age_decrypt(ct, 'grp_k')").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("a" -> 2L, "b" -> 1L))
      for (fn <- Seq("age_decrypt", "age_try_decrypt")) {
        val calls = spark.sql(s"SELECT $fn(ct, 'grp_k') AS x, $fn(ct, 'grp_k') AS y FROM grp_ct")
          .queryExecution.analyzed.expressions.flatMap(_.collect { case u: ScalaUDF => u })
        assert(calls.size == 2 && calls(0).semanticEquals(calls(1)), fn)
      }
      spark.sql("CREATE OR REPLACE TEMP VIEW grp_dec AS " +
        "SELECT CAST(age_decrypt(ct, 'grp_k') AS STRING) AS t FROM grp_ct")
      spark.sql("CACHE TABLE grp_dec")
      val read = spark.sql("SELECT t FROM grp_dec")
      assert(read.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.nonEmpty,
        read.queryExecution.withCachedData)
      assert(read.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "a", "b"))
    } finally {
      spark.sql("UNCACHE TABLE IF EXISTS grp_dec")
      spark.sql("DROP VIEW IF EXISTS grp_dec")
      spark.sql("DROP VIEW IF EXISTS grp_ct")
      AgeSecretManager.drop("grp_k")
    }
  }

  test("one analysis binds one map even when a CREATE lands during it") {
    val pub = AgeKeys.fromSeed("pinned".getBytes("UTF-8")).publicKey
    AgeSecretManager.create("pin_k", AgeSecretOptions(publicKey = Some(pub)))
    // a function whose builder creates a secret while its query is analysed
    val createLate = FunctionIdentifier("pin_create_late")
    spark.sessionState.functionRegistry.registerFunction(createLate,
      new ExpressionInfo(classOf[Literal].getName, "pin_create_late"), _ => {
        AgeSecretManager.create("pin_late", AgeSecretOptions(publicKey = Some(pub)), replace = true)
        Literal(1)
      })
    try {
      val e = intercept[Throwable](spark.sql("SELECT age_encrypt(CAST('x' AS BINARY), 'pin_k'), " +
        "pin_create_late(), age_encrypt(CAST('x' AS BINARY), 'pin_late')").collect())
      assert(messages(e).exists(_.contains("Invalid age recipient key: pin_late")), messages(e))
      assert(spark.sql("SELECT age_encrypt(CAST('x' AS BINARY), 'pin_late') IS NOT NULL")
        .head().getBoolean(0))
    } finally {
      spark.sessionState.functionRegistry.dropFunction(createLate)
      AgeSecretManager.drop("pin_k")
      AgeSecretManager.drop("pin_late")
    }
  }

  test("a task's key memo follows the key: alternating literal, secret-name and wrong keys") {
    val Seq(a, b, c, d) = Seq("a", "b", "c", "d").map(k => AgeKeys.fromSeed(s"memo-$k".getBytes("UTF-8")))
    AgeSecretManager.create("memo_b",
      AgeSecretOptions(publicKey = Some(b.publicKey), privateKey = Some(b.privateKey)))
    try {
      // one partition, so one task's functions see every key change; row
      // id % 3 = 2 is encrypted for c and decrypted with the wrong key d
      spark.sql(
        s"""SELECT id, CAST(concat('row-', id) AS BINARY) AS pt,
           |  CASE id % 3 WHEN 0 THEN '${a.publicKey}' WHEN 1 THEN 'memo_b' ELSE '${c.publicKey}' END AS rcpt,
           |  CASE id % 3 WHEN 0 THEN '${a.privateKey}' WHEN 1 THEN 'memo_b' ELSE '${d.privateKey}' END AS ident,
           |  IF(id % 2 = 0, array('${a.publicKey}'), array('memo_b', '${c.publicKey}')) AS rcpts,
           |  IF(id % 2 = 0, '${a.privateKey}', '${c.privateKey}') AS multi_ident
           |FROM range(0, 12, 1, 1)""".stripMargin).createOrReplaceTempView("memo_rows")
      def strings(q: String) = spark.sql(q).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      def plain(id: Long) = s"row-$id"

      val encrypted = spark.sql("SELECT id, age_encrypt(pt, rcpt) FROM memo_rows").collect()
      assert(encrypted.length == 12)
      encrypted.foreach { r =>
        val id = r.getLong(0)
        val key = Seq(a, b, c)((id % 3).toInt).privateKey
        val scalar = AgeKeys.parseIdentity(key).toOption.get
        assert(new String(graft.core.AgeFormat.decrypt(r.getAs[Array[Byte]](1), scalar)) == plain(id))
      }
      assert(strings("SELECT id, CAST(age_decrypt(age_encrypt(pt, rcpt), ident) AS STRING) " +
        "FROM memo_rows WHERE id % 3 != 2") == (0L until 12L).filter(_ % 3 != 2).map(i => (i, plain(i))))
      assert(strings("SELECT id, CAST(age_try_decrypt(age_encrypt(pt, rcpt), ident) AS STRING) " +
        "FROM memo_rows") == (0L until 12L).map(i => (i, if (i % 3 == 2) null else plain(i))))
      val e = intercept[Throwable](
        spark.sql("SELECT age_decrypt(age_encrypt(pt, rcpt), ident) FROM memo_rows").collect())
      assert(messages(e).exists(_.contains("Decryption failed: no matching key found")), messages(e))
      assert(strings("SELECT id, CAST(age_decrypt(age_encrypt_multi(pt, rcpts), multi_ident) AS STRING) " +
        "FROM memo_rows") == (0L until 12L).map(i => (i, plain(i))))
      // a NULL-data row never resolves its key, however bad the key is
      assert(strings(
        """SELECT id, CAST(age_decrypt(IF(id % 2 = 0, NULL, age_encrypt(pt, rcpt)),
          |                            IF(id % 2 = 0, 'AGE-SECRET-KEY-1BOGUS', ident)) AS STRING)
          |FROM memo_rows WHERE id % 3 != 2""".stripMargin) ==
        (0L until 12L).filter(_ % 3 != 2).map(i => (i, if (i % 2 == 0) null else plain(i))))
      assert(spark.sql(
        """SELECT count(*) FROM memo_rows
          |WHERE age_encrypt(IF(id % 2 = 0, NULL, pt), IF(id % 2 = 0, 'no_such_key', rcpt)) IS NULL
          |  AND age_encrypt_multi(IF(id % 2 = 0, NULL, pt), IF(id % 2 = 0, array('no_such_key'), rcpts)) IS NULL
          |""".stripMargin).head().getLong(0) == 6L)
    } finally {
      AgeSecretManager.drop("memo_b")
      spark.catalog.dropTempView("memo_rows")
    }
  }

  test("DESCRIBE FUNCTION reports the class each entry builds") {
    assert(spark.catalog.getFunction("cosine_sim").className ==
      classOf[graft.functions.CosineSim].getName)
    assert(spark.catalog.getFunction("topk_agg").className ==
      classOf[graft.functions.TopKAgg].getName)
    assert(spark.catalog.getFunction("age_decrypt").className == classOf[ScalaUDF].getName)
  }
}
