package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Native vector expressions: interpreted and codegen paths, SQL
  * registration via SparkSessionExtensions, and exact agreement with the
  * higher-order-function formulation they replaced. */
class VectorExpressionsSpec extends SparkSpec {

  private val vecs = df(Seq(
    Row(1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    Row(2L, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
    Row(3L, null, Seq(1.0f)),
    Row(4L, Seq(1.0f, null, 2.0f), Seq(3.0f, 4.0f, 5.0f))),
    "id BIGINT, a ARRAY<FLOAT>, b ARRAY<FLOAT>")

  test("dot product: values, null array → null, null elements → 0") {
    val r = vecs.select(col("id"), VectorFunctions.dot(col("a"), col("b")).as("d"))
      .collect().map(x => x.getLong(0) -> (if (x.isNullAt(1)) null else x.getDouble(1))).toMap
    assert(r(1L) == 4.0 + 10.0 + 18.0)
    assert(r(2L) == 0.0)
    assert(r(3L) == null)
    assert(r(4L) == 3.0 + 0.0 + 10.0)
  }

  test("cosine agrees with the HOF formulation bit-for-bit on testdata") {
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
      val (ad, bd) = (a.cast("array<double>"), b.cast("array<double>"))
      dot(ad, bd) / sqrt(dot(ad, ad) * dot(bd, bd))
    }
    val emb = Tables.embeddings(spark, sfDir).limit(30).cache()
    val pairs = emb.as("x").crossJoin(emb.as("y"))
      .select(
        VectorFunctions.cosine(col("x.embedding"), col("y.embedding")).as("native"),
        hofCosine(col("x.embedding"), col("y.embedding")).as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("mixed float/double inputs work (LSH hyperplane shape)") {
    val planes = array(lit(0.5), lit(-1.0), lit(2.0))
    val r = vecs.filter("id = 1")
      .select(VectorFunctions.dot(col("a"), planes)).head().getDouble(0)
    assert(r == 0.5 - 2.0 + 6.0)
  }

  test("SQL functions registered through SparkSessionExtensions") {
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c, " +
        "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 11.0)
  }

  test("sign_band_signature matches the per-plane dot-product formulation") {
    // The fused expression must produce bit-for-bit the buckets of the
    // literal-hyperplane formulation it replaced: bit j of band b =
    // dot(vec, plane[b*bitsPerBand+j]) >= 0, packed little-endian.
    val dim = 8; val numBits = 16; val bands = 4
    val planes = graft.ext.Similarity.hyperplanes(dim, numBits, seed = 7L)
    val data = df(
      (0 until 20).map { i =>
        val rnd = new scala.util.Random(100 + i)
        Row(i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat))
      },
      "id BIGINT, v ARRAY<FLOAT>")
    val fused = data.select(col("id"),
        VectorFunctions.signBands(col("v"), planes, bands).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val naive = data.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val bits = planes.map(p => p.zip(v).map { case (a, b) => a * b }.sum >= 0)
      val bpb = numBits / bands
      r.getLong(0) -> (0 until bands).map { b =>
        (0 until bpb).foldLeft(0L)((acc, j) =>
          if (bits(b * bpb + j)) acc | (1L << j) else acc)
      }
    }.toMap
    assert(fused == naive)
  }

  test("sign_band_signature: interpreted eval agrees with the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val planes = graft.ext.Similarity.hyperplanes(4, 8, seed = 3L)
    val vec = Seq(0.5f, -1.25f, 2.0f, 0.75f)
    val expr = graft.functions.SignBandSignature(
      Literal.create(vec, ArrayType(FloatType)),
      planes.map(_.toIndexedSeq).toIndexedSeq, bands = 2)
    val interpreted = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
    val viaPlan = df(Seq(Row(1L, vec)), "id BIGINT, v ARRAY<FLOAT>")
      .select(VectorFunctions.signBands(col("v"), planes, 2))
      .head().getSeq[Long](0)
    assert(interpreted == viaPlan)
  }

  test("all nine vector expressions: generated code and interpreted eval " +
       "agree bit for bit, errors included") {
    import org.apache.spark.sql.{Column, SparkSession}
    import org.apache.spark.sql.types.StructType
    import graft.functions.VectorFunctions._
    // One session per evaluation path: interpreted eval only, and
    // generated code only (a compile failure throws instead of falling
    // back to eval).
    def session(confs: (String, String)*): SparkSession = {
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }
    val interpreted = session("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val generated = session("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")

    // Each row carries its vector v as array<float> (f) and array<double>
    // (d), a partner vector g, and the integral centroid_dist_num inputs
    // derived from them (a null element of v stays null in qi).
    val schema = StructType.fromDDL("id BIGINT, f ARRAY<FLOAT>, " +
      "d ARRAY<DOUBLE>, g ARRAY<FLOAT>, qi ARRAY<INT>, s ARRAY<BIGINT>, n BIGINT")
    def rows(vs: Seq[Seq[Any]], partners: Seq[Seq[Any]]): Seq[Row] =
      vs.zip(partners).zipWithIndex.map { case ((v, g), i) =>
        def mapped(xs: Seq[Any])(h: Float => Any) =
          xs.map(x => if (x == null) null else h(x.asInstanceOf[Float]))
        Row(i.toLong, v, mapped(v)(_.toDouble), g, mapped(v)(x => math.round(x * 1000f)),
          mapped(g)(x => math.round(x * 1000f).toLong * 3L), 3L + i % 5)
      }
    val emb = Tables.embeddings(spark, sfDir.replace("sf0.001", "sf0.01")).orderBy("vec_id")
      .collect().map(_.getSeq[Any](1)).toSeq
    val withNull = emb.head.updated(5, null)
    val vec4 = Seq(0.5f, -1.25f, 2.0f, 0.75f)
    val vec6 = Seq(0.5f, -1.25f, 2.0f, 0.75f, -0.1f, 1.5f)

    // Every expression over v (f or d) with matrices sized to `dim`.
    def allNine(dim: Int, m: Int): Seq[(String, Column => Column)] = {
      val rnd = new scala.util.Random(dim)
      val planes = graft.ext.Similarity.hyperplanes(dim, 16, seed = 11L)
      val cents = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian()))
      val books = Array.fill(m)(Array.fill(4)(Array.fill(dim / m)(rnd.nextGaussian())))
      Seq(
        "dot" -> (v => dot(v, col("g"))),
        "cosine" -> (v => cosine(v, col("g"))),
        "sign_band_signature" -> (v => signBands(v, planes, 4)),
        "nearest_centroids tiesHigh" -> (v => nearestCentroids(v, cents, 3, tiesHigh = true)),
        "nearest_centroids tiesLow" -> (v => nearestCentroids(v, cents, 3, tiesHigh = false)),
        "pq_encode" -> (v => pqEncode(v, books)),
        "pq_lut" -> (v => pqLut(v, books)),
        "pq_adc_score" -> (v => pqAdcScore(pqEncode(col("g"), books), pqLut(v, books), 4)),
        "unit_vector" -> (v => unitVector(v)),
        "centroid_dist_num" -> (_ => centroidDistNum(col("qi"), col("s"), col("n"))))
    }
    val cents6 = {
      val rnd = new scala.util.Random(5)
      Array.fill(5)(Array.fill(6)(rnd.nextGaussian()))
    }
    // (input rows, expressions): sf0.01 embeddings, one null element, a
    // dim mismatch (3 elements against 64-wide matrices), and a 4-dim and
    // a 6-dim vector with matrices of their own width.
    val table: Seq[(String, Seq[Row], Seq[(String, Column => Column)])] = Seq(
      ("sf0.01 embeddings", rows(emb, emb.tail :+ emb.head), allNine(64, 8)),
      ("null element", rows(Seq(withNull), Seq(emb(1))), allNine(64, 8)),
      ("dim mismatch", rows(Seq(emb.head.take(3)), Seq(emb(1))), allNine(64, 8)),
      ("4-dim vector", rows(Seq(vec4), Seq(vec4)), Seq("sign_band_signature" ->
        (v => signBands(v, graft.ext.Similarity.hyperplanes(4, 8, seed = 3L), 2)))),
      ("6-dim vector", rows(Seq(vec6), Seq(vec6)), Seq("nearest_centroids" ->
        (v => nearestCentroids(v, cents6, 3, tiesHigh = false)))))

    // A result as comparable bits (doubles by their raw bits), or the
    // root cause's message when evaluation throws.
    def bits(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case xs: scala.collection.Seq[_] => xs.map(bits)
      case other => other
    }
    def outcome(s: SparkSession, in: Seq[Row], e: Column): Either[String, Seq[Any]] =
      try Right(s.createDataFrame(spark.sparkContext.parallelize(in, 2), schema)
        .select(col("id"), e).collect().toSeq.sortBy(_.getLong(0)).map(r => bits(r.get(1))))
      catch { case t: Exception =>
        Left(Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage)
      }

    val outcomes = for {
      (input, in, exprs) <- table
      (name, e) <- exprs
      v <- Seq("f", "d")
    } yield {
      val (i, g) = (outcome(interpreted, in, e(col(v))), outcome(generated, in, e(col(v))))
      if (i != g) fail(s"$name over $input ($v): " + ((i, g) match {
        case (Right(a), Right(b)) => a.zip(b).indexWhere(p => p._1 != p._2) match {
          case -1 => s"${a.size} interpreted rows, ${b.size} generated"
          case r => s"row $r: interpreted ${a(r)}, generated ${b(r)}"
        }
        case _ => s"interpreted $i, generated $g"
      }))
      (input, name, i)
    }
    assert(outcomes.filter(_._1 == "sf0.01 embeddings").forall(_._3.exists(_.size == 500)))
    val mismatch = outcomes.filter(_._1 == "dim mismatch").map(o => o._2 -> o._3).toMap
    assert(mismatch("sign_band_signature").swap.exists(_.contains("dim=64")), mismatch)
    assert(mismatch("pq_adc_score").swap.exists(_.contains("pq_lut: vector has 3")), mismatch)
    assert(mismatch("centroid_dist_num").swap.exists(_.contains("vector dim 3")), mismatch)
    // Both sessions took the path they were set up for.
    val wholeStage = (s: SparkSession) => s.createDataFrame(spark.sparkContext
      .parallelize(rows(Seq(vec4), Seq(vec4)), 1), schema)
      .select(unitVector(col("f"))).queryExecution.executedPlan
      .find(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined
    assert(wholeStage(generated) && !wholeStage(interpreted))
  }

  test("sign_band_signature throws on a dim mismatch instead of hashing a prefix") {
    val planes = graft.ext.Similarity.hyperplanes(dim = 8, numBits = 8, seed = 1L)
    val short = df(Seq(Row(1L, Seq(1.0f, 2.0f))), "id BIGINT, v ARRAY<FLOAT>")
    val e = intercept[Exception] {
      short.select(VectorFunctions.signBands(col("v"), planes, 2)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dim=8")), s"got: ${messages(e)}")
  }

  test("nearest_centroids matches the literal formulations bit-for-bit") {
    // The native expression replaced TWO literal formulations with
    // different tie semantics; both must reproduce exactly:
    //  - assignment: array_max over (sim, cid) structs → ties to HIGHER cid
    //  - probing: stable array_sort desc on sim only → ties keep LOWER cid
    val rnd = new scala.util.Random(21)
    val dim = 16; val k = 6
    val cents = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    val emb = df((0 until 40).map { i =>
      val r = new scala.util.Random(300 + i)
      Row(i.toLong, Seq.fill(dim)(r.nextGaussian().toFloat))
    }, "vec_id BIGINT, embedding ARRAY<FLOAT>")

    val scored = cents.zipWithIndex.map { case (c, i) =>
      val cArr = array(c.toSeq.map(lit): _*)
      struct(VectorFunctions.cosine(col("embedding"), cArr).as("sim"),
        lit(i).as("cid"))
    }
    val legacyAssign = array_max(array(scored.toIndexedSeq: _*)).getField("cid")
    val legacyProbes = slice(array_sort(array(scored.toIndexedSeq: _*),
      (a, b) => when(a.getField("sim") > b.getField("sim"), -1)
        .when(a.getField("sim") < b.getField("sim"), 1).otherwise(0)), 1, 3)

    val rows = emb.select(col("vec_id"),
      VectorFunctions.nearestCentroids(col("embedding"), cents, 1, tiesHigh = true)
        .getItem(0).as("na"),
      legacyAssign.as("la"),
      VectorFunctions.nearestCentroids(col("embedding"), cents, 3, tiesHigh = false)
        .as("np"),
      transform(legacyProbes, p => p.getField("cid")).as("lp")).collect()
    rows.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"assignment diverged on ${r.getLong(0)}")
      assert(r.getSeq[Int](3) == r.getSeq[Int](4), s"probes diverged on ${r.getLong(0)}")
    }
  }

  test("nearest_centroids ties: higher cid under array_max, lower under sort") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // Two identical centroids → cosine ties exactly.
    val cents = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0)).map(_.toIndexedSeq).toIndexedSeq
    val v = Literal.create(Seq(3.0, 4.0), ArrayType(DoubleType))
    def ids(e: graft.functions.NearestCentroids): Seq[Int] =
      e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray.toSeq
    assert(ids(graft.functions.NearestCentroids(v, cents, 1, tiesHigh = true)) == Seq(1))
    assert(ids(graft.functions.NearestCentroids(v, cents, 2, tiesHigh = false)) == Seq(0, 1))
  }

  test("nearest_centroids plan size is independent of k (k=256 stays one node)") {
    val cents = Array.tabulate(256)(c => Array.tabulate(64)(i =>
      math.sin(c * 64 + i))) // deterministic filler, no Random needed
    val data = df(Seq(Row(1L, Seq.fill(64)(0.5f))), "id BIGINT, v ARRAY<FLOAT>")
    val plan = data.select(
      VectorFunctions.nearestCentroids(col("v"), cents, 4, tiesHigh = false))
      .queryExecution.analyzed
    val nodeCount = plan.expressions.map(_.collect { case e => e }.size).sum
    // The literal formulation would carry k×dim = 16,384 literal nodes.
    assert(nodeCount < 20, s"expected a constant-size plan, got $nodeCount nodes")
  }

  test("nearest_centroids throws on a dim mismatch instead of scoring a prefix") {
    val cents = Array.fill(3)(Array.fill(8)(0.5))
    val short = df(Seq(Row(1L, Seq(1.0f, 2.0f))), "id BIGINT, v ARRAY<FLOAT>")
    val e = intercept[Exception] {
      short.select(VectorFunctions.nearestCentroids(col("v"), cents, 1,
        tiesHigh = true)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dim=8")), s"got: ${messages(e)}")
  }

  test("nearest_centroids: interpreted eval agrees with the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val rnd = new scala.util.Random(5)
    val cents = Array.fill(5)(Array.fill(6)(rnd.nextGaussian()))
    val vec = Seq(0.5f, -1.25f, 2.0f, 0.75f, -0.1f, 1.5f)
    val interpreted = graft.functions.NearestCentroids(
        Literal.create(vec, ArrayType(FloatType)),
        cents.map(_.toIndexedSeq).toIndexedSeq, 3, tiesHigh = false)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray.toSeq
    val viaPlan = df(Seq(Row(1L, vec)), "id BIGINT, v ARRAY<FLOAT>")
      .select(VectorFunctions.nearestCentroids(col("v"), cents, 3, tiesHigh = false))
      .head().getSeq[Int](0)
    assert(interpreted == viaPlan)
  }

  test("TopK buffer encodes as a flat product of primitive arrays, not kryo binary") {
    val enc = new graft.ext.Similarity.TopKAggregator(3).bufferEncoder
    assert(enc.schema.fieldNames.toSeq == Seq("ids", "sims"),
      s"buffer schema regressed to ${enc.schema.simpleString}")
  }

  test("expression survives both codegen and interpreted evaluation") {
    // Force the interpreted path via eval() directly.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.functions.DotProduct
    val lit1 = Literal.create(Seq(1.0f, 2.0f), org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))
    val lit2 = Literal.create(Seq(3.0f, 4.0f), org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))
    assert(DotProduct(lit1, lit2).eval(null) == 11.0)
    // And the codegen path through a real plan (whole-stage codegen on).
    val viaPlan = vecs.filter("id = 1")
      .select(VectorFunctions.dot(col("a"), col("b"))).head().getDouble(0)
    assert(viaPlan == 32.0)
  }

  test("NGramStats census matches a plain-Scala reference on random token lists") {
    import graft.functions.{NGramStats, TextFunctions}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    def ref(toks: Seq[String], n: Int): (Long, Long, Long, Long) = {
      if (toks.size < n) (0L, 0L, 0L, 0L)
      else {
        val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
        // Published Gopher semantics: chars in the MOST FREQUENT gram,
        // count ties broken to the longest gram.
        val mc = counts.values.max
        val len = counts.collect { case (g, c) if c == mc => g.length.toLong }.max
        // Dup char mass: count·len over grams occurring at least twice.
        val dup = counts.collect { case (g, c) if c >= 2 => c * g.length }.sum
        (grams.size.toLong, counts.size.toLong, mc * len, dup)
      }
    }
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "bb", "ccc", "dddd", "badger")
    for (trial <- 1 to 30; n <- Seq(2, 3, 4)) {
      val toks = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      val got = NGramStats(Literal.create(toks,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)), n)
        .eval(null).asInstanceOf[ArrayData].toLongArray.toSeq
      val (t, d, b, dup) = ref(toks, n)
      assert(got == Seq(t, d, b, dup), s"trial $trial n=$n toks=$toks")
    }
    // And through a real plan (codegen path).
    val viaPlan = df(Seq(Row(1L, "go go go stop go go")),
        "id BIGINT, text STRING")
      .select(TextFunctions.ngramStats(
        org.apache.spark.sql.functions.split(col("text"), " "), 2))
      .head().getSeq[Long](0)
    // bigrams: [go go, go go, go stop, stop go, go go] -> 5 total, 3 distinct,
    // "go go" x3 covering 3*5=15 chars; dup mass = the same 15 ("go go"
    // is the only repeated gram).
    assert(viaPlan == Seq(5L, 3L, 15L, 15L))
    // A rare-but-long gram must NOT beat the most frequent one: "aa aa"
    // x2 (coverage 10) wins over the once-occurring 25-char phrase —
    // max-over-grams of count*len would report 25 and reject wrongly.
    val longPhrase = df(Seq(Row(1L, "aa aa aa zz internationalization w")),
        "id BIGINT, text STRING")
      .select(TextFunctions.ngramStats(
        org.apache.spark.sql.functions.split(col("text"), " "), 2))
      .head().getSeq[Long](0)
    assert(longPhrase(2) == 2L * 5L, s"got ${longPhrase(2)}")
  }
}
