package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExprs

/** The native fused cosine must be BIT-identical to the declarative
  * three-fold HOF formulation (which the DuckDB oracle mirrors).
  */
class VectorExprsSpec extends SparkSpec {

  private def hofCosine = {
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    expr(s"${dot("a", "b")} / (sqrt(${dot("a", "a")}) * sqrt(${dot("b", "b")}))")
  }

  test("fused codegen cosine is bit-identical to the HOF fold formulation") {
    val sql = spark.sqlContext
    import sql.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(500)((
      Seq.fill(64)(rnd.nextDouble() * 2 - 1),
      Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .withColumn("native", VectorExprs.cosineSim(col("a"), col("b")))
      .withColumn("hof", hofCosine)
    // bit-identical, not approximately equal
    assert(df.filter(col("native") =!= col("hof")).isEmpty)
  }

  test("interpreted eval path matches codegen path") {
    val sql = spark.sqlContext
    import sql.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0))).toDF("a", "b")
    val got = df.select(VectorExprs.cosineSim(col("a"), col("b"))).first().getDouble(0)
    val want = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(got == want)
  }

  test("poly_hash interpreted eval matches the codegen/DataFrame path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val sql = spark.sqlContext
    import sql.implicits._
    for (s <- Seq("", "abc", "hello world", "ñ北😀x")) {
      val interp = org.apache.spark.sql.graft.PolyHash(
        Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType))
        .eval(null)
      val codegen = Seq(s).toDF("s")
        .select(VectorExprs.polyHash(col("s"))).first().getLong(0)
      assert(interp == codegen, s"mismatch for '$s'")
    }
  }

  test("poly_hash never crashes on malformed UTF-8 and paths agree") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    VectorExprs.register(spark)
    // 'a' + truncated 2-byte lead; continuation byte in lead position
    for (bytes <- Seq(Array(0x61, 0xC3).map(_.toByte),
                      Array(0x80, 0x62).map(_.toByte))) {
      val interp = org.apache.spark.sql.graft.PolyHash(
        Literal(UTF8String.fromBytes(bytes),
          org.apache.spark.sql.types.StringType)).eval(null)
      // codegen path: smuggle the raw bytes in via unbase64+cast
      val b64 = java.util.Base64.getEncoder.encodeToString(bytes)
      val codegen = spark.sql(
        s"SELECT poly_hash(CAST(unbase64('$b64') AS STRING)) AS h")
        .first().getLong(0)
      assert(interp == codegen, s"paths diverge on ${bytes.toSeq}")
    }
  }

  test("cosine_sim registers as a SQL function") {
    VectorExprs.register(spark)
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS s").first().getDouble(0)
    assert(got == 1.0)
  }

  test("GraftExtensions injects cosine_sim at session build time") {
    // a session built WITH the extension resolves the function with no
    // per-session register() call. getOrCreate() reuses the default
    // session (ignoring extensions), so clear it first; the new session
    // shares the running SparkContext. Restore the shared session after.
    import org.apache.spark.sql.SparkSession
    val prev = spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val extended = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val got = extended.sql(
        "SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS s")
        .first().getDouble(0)
      assert(got == 1.0)
      // the other injected function resolves too ('a' -> 97)
      val ph = extended.sql("SELECT poly_hash('a') AS h").first().getLong(0)
      assert(ph == 97L)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("native poly_hash is bit-identical to the declarative HOF fold") {
    val sql = spark.sqlContext
    import sql.implicits._
    val hof = expr("""aggregate(sequence(1, length(s)), CAST(0 AS BIGINT),
      (acc, i) -> (acc * 31 + ascii(substr(s, i, 1))) % 1000000007)""")
    // ascii + 2/3/4-byte chars (😀 = supplementary plane — the case the
    // code-point parity contract hinges on) + empty + long strings
    val cases = Seq("", "a", "hello world", "ñandú über 北京 😀🎉",
      "x" * 5000).toDF("s")
    val diff = cases.select(VectorExprs.polyHash(col("s")).as("n"), hof.as("h"))
      .filter(col("n") =!= col("h") ||
        col("n").isNull =!= col("h").isNull)
    assert(diff.isEmpty)

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text").as("s"))
    val diffDocs = docs.select(VectorExprs.polyHash(col("s")).as("n"), hof.as("h"))
      .filter(col("n") =!= col("h"))
    assert(diffDocs.isEmpty)
  }

  test("zero-norm and length-mismatched inputs yield NULL (matching DuckDB), never NaN") {
    val sql = spark.sqlContext
    import sql.implicits._
    // ANSI Spark THROWS on double x/0 and DuckDB returns NULL — the native
    // expression must follow the oracle (NULL), and NaN would corrupt
    // top-k ranking (NaN sorts above every real score)
    val df = Seq(
      (Seq(0.0, 0.0), Seq(1.0, 2.0)), // zero norm
      (Seq(1.0, 2.0), Seq(1.0)) // length mismatch
    ).toDF("a", "b").withColumn("s", VectorExprs.cosineSim(col("a"), col("b")))
    assert(df.filter(col("s").isNotNull).isEmpty)
  }

  test("real embeddings: native == HOF on the fixture corpus") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.as("x").crossJoin(e.as("y"))
      .filter(col("x.vec_id") < col("y.vec_id")).limit(2000)
      .select(col("x.v").as("a"), col("y.v").as("b"))
    val df = pairs
      .withColumn("native", VectorExprs.cosineSim(col("a"), col("b")))
      .withColumn("hof", hofCosine)
    assert(df.filter(col("native") =!= col("hof")).isEmpty)
  }

  test("bloom_contains: codegen path == interpreted eval == the Aggregator's contains") {
    val sql = spark.sqlContext
    import sql.implicits._
    val k = 4
    // a small trained filter plus adversarial probe values: inserted
    // keys, absent keys, negatives (the ((x%P)+P)%P wrap), extremes
    val inserted = Seq(7L, -13L, 0L, Long.MaxValue, 1L << 40)
    val sketch = new graft.functions.BloomSketch(1 << 10, k)
    val bits = inserted.foldLeft(sketch.zero)(sketch.reduce)
    val probes = inserted ++ Seq(8L, -14L, Long.MinValue, 999983L, -1L)
    val df = probes.toDF("x")
      .withColumn("c", VectorExprs.bloomContains(col("x"), bits, k))
    val got = df.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    probes.foreach { x =>
      val want = graft.functions.BloomSketch.contains(bits, x, k)
      assert(got(x) == want, s"probe $x: column=${got(x)} scala=$want")
      // interpreted eval path (no codegen) must agree too
      val expr = org.apache.spark.sql.graft.BloomContains(
        org.apache.spark.sql.catalyst.expressions.Literal(x),
        bits.toIndexedSeq, k)
      assert(expr.eval(null) == want)
    }
    // every inserted key MUST be found (the no-false-negative law)
    inserted.foreach(x => assert(got(x)))

    // two probes built from equal-but-DISTINCT bitsets must compare
    // equal (value semantics), or plan canonicalization / subexpression
    // elimination / CacheManager lookup would never unify them
    val lit = org.apache.spark.sql.catalyst.expressions.Literal(7L)
    val e1 = org.apache.spark.sql.graft.BloomContains(lit, bits.toIndexedSeq, k)
    val e2 = org.apache.spark.sql.graft.BloomContains(lit, bits.clone().toIndexedSeq, k)
    assert(e1 == e2 && e1.hashCode == e2.hashCode && e1.semanticEquals(e2))
  }

  // ---- r18 text-tier natives: ws_token_count / shingle_fps ----------

  /** Adversarial inputs for the tokenize-parity laws: every Java-\s
    * whitespace byte, unicode multi-byte (incl. lowercase-expanding İ and
    * case-mapped Σ), degenerate token counts (0/1/2/3), exactly-w and
    * under-w gram counts, repeated grams (array_distinct interplay).
    */
  private val textCases: Seq[String] = Seq(
    "", " ", " \t\n\f\r ", "one", "one two", "one two three",
    "a b c d e f g h i j k l m n o p", "  lead", "trail  ", "a  b\tc\nd",
    "Ñandú NORTH 北京 test 😀 emoji", "İstanbul ΣΙΓΜΑ ΤΕΛΟΣ tschüß",
    "x x x x x x x x x x", "a b c a b c a b c", "Ab aB AB ab",
    (1 to 9).map(i => s"tok$i").mkString(" "),
    (1 to 10).map(i => s"t$i").mkString("\t"),
    "ß ẞ ǅ ǆ ǳ", " nbsp is not java ws joined")

  private def withMode[A](mode: String)(f: => A): A = {
    val prev = sys.props.get("graft.hashMode")
    sys.props("graft.hashMode") = mode
    try f finally prev match {
      case Some(v) => sys.props("graft.hashMode") = v
      case None => sys.props.remove("graft.hashMode")
    }
  }

  test("ws_token_count is bit-identical to size(filter(split(lower)))") {
    val sql = spark.sqlContext
    import sql.implicits._
    val rnd = new scala.util.Random(11)
    val fuzz = Seq.fill(300)(Seq.fill(rnd.nextInt(30))(
      rnd.alphanumeric.take(rnd.nextInt(8)).mkString).mkString(" "))
    // a NULL row too: null-safe comparison, so NULL vs -1 is a mismatch
    val df = ((textCases ++ fuzz).map(Option(_)) :+ None).toDF("text")
      .withColumn("native", graft.functions.TextFns.tokCount(col("text")))
      .withColumn("hof", size(graft.functions.TextFns.toksHof(col("text"))))
    assert(df.filter(!(col("native") <=> col("hof"))).isEmpty)
    // the session's ANSI size() contract: NULL in, NULL out
    val nulls = df.filter(col("text").isNull).select(col("native")).first()
    assert(nulls.isNullAt(0))
  }

  test("ws_tokens is bit-identical to filter(split(lower))") {
    val sql = spark.sqlContext
    import sql.implicits._
    val rnd = new scala.util.Random(13)
    val fuzz = Seq.fill(300)(Seq.fill(rnd.nextInt(30))(
      rnd.alphanumeric.take(rnd.nextInt(8)).mkString).mkString(" "))
    val df = (textCases ++ fuzz).toDF("text")
      .withColumn("native", graft.functions.TextFns.toks(col("text")))
      .withColumn("hof", graft.functions.TextFns.toksHof(col("text")))
    assert(df.filter(col("native") =!= col("hof") ||
      col("native").isNull =!= col("hof").isNull).isEmpty)
    // the real corpus too
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(docs.select(graft.functions.TextFns.toks(col("text")).as("n"),
        graft.functions.TextFns.toksHof(col("text")).as("h"))
      .filter(col("n") =!= col("h")).isEmpty)
  }

  test("shingle_fps matches transform(shingles3All(toks), hash60) in BOTH hash modes") {
    val sql = spark.sqlContext
    import sql.implicits._
    import graft.functions.TextFns
    for (mode <- Seq("xxhash64", "md5")) withMode(mode) {
      val df = textCases.toDF("text")
        .withColumn("native", TextFns.shingleFps(col("text"), 0))
        .withColumn("hof",
          transform(TextFns.shingles3All(TextFns.toksHof(col("text"))),
            g => TextFns.hash60(g)))
      val bad = df.filter(col("native") =!= col("hof"))
      assert(bad.isEmpty, s"mode=$mode: ${bad.collect().mkString("; ")}")
    }
  }

  test("shingle_fps winnow minima match the r17 least(get...) window form, both modes") {
    val sql = spark.sqlContext
    import sql.implicits._
    import graft.functions.TextFns
    val w = graft.operators.Dedup.WinnowW
    for (mode <- Seq("xxhash64", "md5")) withMode(mode) {
      val hof = textCases.toDF("text")
        .select(col("text"), TextFns.toksHof(col("text")).as("t"))
        .select(col("text"), TextFns.shingles3All(col("t")).as("gs"))
        .select(col("text"), size(col("gs")).as("m"),
          transform(col("gs"), g => TextFns.hash60(g)).as("hs"))
        .select(col("text"),
          transform(
            sequence(lit(0), greatest(col("m") - w, lit(0))),
            p => least((0 until w).map(j => get(col("hs"), p + j)): _*))
            .as("hof"))
      val both = hof.withColumn("native", TextFns.shingleFps(col("text"), w))
      val bad = both.filter(col("native") =!= col("hof"))
      assert(bad.isEmpty, s"mode=$mode: ${bad.collect().mkString("; ")}")
    }
  }

  test("shingle_fps interpreted eval matches the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val sql = spark.sqlContext
    import sql.implicits._
    for (s <- textCases; md5Mode <- Seq(true, false)) {
      val interp = org.apache.spark.sql.graft.ShingleFps(
        Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType),
        0, md5Mode).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
      val codegen = withMode(if (md5Mode) "md5" else "xxhash64") {
        Seq(s).toDF("text")
          .select(graft.functions.TextFns.shingleFps(col("text"), 0))
          .first().getSeq[Long](0)
      }
      assert(interp.toSeq == codegen, s"text='$s' md5=$md5Mode")
    }
  }
}
