package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.LongType
import mallispark.compile.SchemaCompiler
import mallispark.ir.{S, SchemaIR}
import mallispark.text.{Dedup, Similarity}

/** Near-duplicate detection over a corpus shaped like `DedupScale`'s: 5×
  * exact duplication over a 50k-word vocabulary, plus 64-dim grouped
  * embeddings. Each operation runs the exact, MinHash-LSH, Jaccard +
  * clustering, embedding near-dup and ANN top-k paths; recall is scored
  * against a brute-force top-k computed once in set-up. */
final class DedupNearDup(c: Ctx) extends Workload(c) {
  import ctx._
  private val n = rows(5000, multipleOf = 5)
  private val parts = 4
  private val dims = 64
  private val kTop = 5
  private val nQueries = 100
  private val planes = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt
  private val searchPlanes = math.max(4,
    math.ceil(math.log(n / 16.0) / math.log(2.0)).toInt)
  private var corpus: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var truth: Set[(Long, Long)] = Set.empty

  def setup(): Unit = {
    corpus = Gen.corpus(spark, seed, n, parts).localCheckpoint(true)
    emb = Gen.embeddings(spark, seed, n, parts, dims).localCheckpoint(true)
    queries = emb.where(F.col("vec_id") < nQueries)
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      .localCheckpoint(true)
    truth = pairsOf(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "query_id", "qe", k = kTop))
  }

  private def pairsOf(topk: DataFrame): Set[(Long, Long)] =
    topk.select(F.col("query_id").cast(LongType), F.col("vec_id").cast(LongType))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  def op(i: Int): Done = {
    val exact = tr.span("text.exact") {
      Dedup.exactDupGroups(corpus, "doc_id", "text").count()
    }
    val lsh = tr.span("text.lsh") {
      Dedup.minhashLSHFast(corpus, "doc_id", "text")
        .agg(F.count(F.lit(1)),
          F.sum(F.col("dup_cnt") * (F.col("dup_cnt") - 1) / 2).cast(LongType))
        .head()
    }
    val (pairs, verified) = tr.span("text.pairs") {
      val p = Dedup.ngramJaccardWithinBuckets(corpus, "doc_id", "text",
        threshold = 0.9, maxShingleDf = 1000).localCheckpoint(true)
      (p, p.count())
    }
    val clusters = tr.span("text.cluster") {
      Dedup.dupClusters(pairs, "id_a", "id_b").count()
    }
    val near = tr.span("text.neardup") {
      Similarity.nearDupPairs(emb, "vec_id", "embedding", threshold = 0.99,
        planes = planes, tables = 2, dims = dims).count()
    }
    val found = tr.span("text.ann") {
      pairsOf(Similarity.annTopK(emb, "vec_id", "embedding", queries,
        "query_id", "qe", k = kTop, planes = searchPlanes, tables = 4,
        dims = dims))
    }
    val recall = (found intersect truth).size.toDouble / (nQueries * kTop)
    Done(n, Map("ann_recall_at5" -> recall,
      "text.candidate_pairs" -> lsh.getLong(1).toDouble,
      "text.verified_pairs" -> verified.toDouble), () => {
      val groups = n / 5 + (if (corrupt) 1 else 0)
      check("exact groups", exact, groups) ++
        check("clusters", clusters, groups) ++
        check("verified pairs", verified, groups * 10) ++
        check("embedding near-dup pairs >= 90% of groups * 10",
          near >= groups * 9, true) ++
        check("ann recall@5 >= 0.9", recall >= 0.9, true)
    })
  }

  override def cuts(i: Int): Map[String, Double] = {
    val (_, tRead) = timed(tr.span("cut.read") {
      corpus.agg(F.sum(F.pmod(F.xxhash64(F.col("text")), F.lit(1000003L))))
        .collect()
    })
    val (_, tKernel) = timed(tr.span("cut.kernel") {
      Dedup.minhashBandsFast(corpus, "doc_id", "text", 64, 16, 3)
        .agg(F.count(F.lit(1)),
          F.sum(F.pmod(F.xxhash64(F.col("band_key")), F.lit(1000003L))))
        .collect()
    })
    Map("expressions.text_kernel_s" -> (tKernel - tRead),
      "expressions.kernel_rows" -> n.toDouble)
  }
}

/** Interactive checking of a wide schema: a ~250-key closed map of int
  * ranges, bounded strings, enums, refs, anchored url regexes and one
  * alternation regex, plus one nested column deep enough that the errors
  * expression takes the row-interpreter hatch. Each operation compiles
  * fresh `validateDF` and `violationsDF` frames (one int bound changes
  * per operation, so no generated code is reused) and runs both. */
final class WideSchema(c: Ctx) extends Workload(c) {
  import ctx._
  private val n = rows(3000)
  private val nInt = 100
  private val nStr = 60
  private val nEnum = 40
  private val nRef = 30
  private val nUrl = 15
  private val depth = 12 // above the errors hatch threshold, below valid's
  private val breakable = nInt + nStr + nEnum + nRef + nUrl + 2
  private val enumVals = Seq("a", "b", "c", "d", "e")
  private val path = work.resolve("wide.parquet").toString
  private var input: DataFrame = _
  private var dirty = 0L

  /** Bound of `i0`; data never exceeds 999, so validity is unchanged. */
  def schema(bound: Long): SchemaIR = {
    def nested(d: Int): SchemaIR =
      if (d == 0) S.int(0, 999) else S.mapE(true, S.req("n", nested(d - 1)))
    S.scoped("code" -> S.string(2, 8), "level" -> S.int(1, 5))(
      S.mapE(true, Seq(S.req("id", S.int)) ++
        (0 until nInt).map(j => S.req(s"i$j", S.int(0, if (j == 0) bound else 999))) ++
        (0 until nStr).map(j => S.req(s"s$j", S.string(2, 16))) ++
        (0 until nEnum).map(j => S.req(s"e$j", S.enum_(enumVals: _*))) ++
        (0 until nRef).map(j =>
          S.req(s"r$j", S.ref(if (j % 2 == 0) "code" else "level"))) ++
        (0 until nUrl).map(j => S.req(s"u$j", S.re("^https?://[^\\s]+$"))) ++
        Seq(S.req("g0", S.re("^(red|green|blue)-[0-9]+$")),
          S.req("deep", nested(depth))): _*))
  }

  /** Rows are built on the driver from a generator seeded per row: a row
    * is dirty with probability 0.05 and then breaks exactly one of its
    * leaves, so the expected invalid-row and violation counts are both the
    * number of dirty rows. */
  def setup(): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def nestedType(d: Int): DataType =
      if (d == 0) LongType else StructType(Seq(StructField("n", nestedType(d - 1))))
    val fields = Seq(StructField("id", LongType)) ++
      (0 until nInt).map(j => StructField(s"i$j", LongType)) ++
      (0 until nStr).map(j => StructField(s"s$j", StringType)) ++
      (0 until nEnum).map(j => StructField(s"e$j", StringType)) ++
      (0 until nRef).map(j =>
        StructField(s"r$j", if (j % 2 == 0) StringType else LongType)) ++
      (0 until nUrl).map(j => StructField(s"u$j", StringType)) ++
      Seq(StructField("g0", StringType), StructField("deep", nestedType(depth)))
    var nDirty = 0L
    val data = (0L until n).map { id =>
      val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ id)
      val broken = if (r.nextDouble() < 0.05) r.nextInt(breakable) else -1
      if (broken >= 0) nDirty += 1
      var j = -1
      def v(good: => Any, bad: Any): Any = { j += 1; if (j == broken) bad else good }
      val values = (0 until nInt).map(_ => v(r.nextLong(1000), 5000L)) ++
        (0 until nStr).map(_ => v("s" + r.nextInt(1000000000), "")) ++
        (0 until nEnum).map(_ => v(enumVals(r.nextInt(5)), "zz")) ++
        (0 until nRef).map(k =>
          if (k % 2 == 0) v("c" + r.nextInt(100000), "x")
          else v(1L + r.nextInt(5), 9L)) ++
        (0 until nUrl).map(_ =>
          v(s"https://site${r.nextInt(100000)}.example.com/x", "not a url")) ++
        Seq(v(Seq("red", "green", "blue")(r.nextInt(3)) + "-" + r.nextInt(1000),
          "pink-1"))
      val leaf: Any = v(r.nextLong(1000), 5000L)
      val deep = (0 until depth).foldLeft(leaf)((c, _) => Row(c))
      Row.fromSeq(id +: values :+ deep)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4),
      StructType(fields)).write.mode("overwrite").parquet(path)
    input = spark.read.parquet(path)
    dirty = nDirty + (if (corrupt) 1 else 0)
  }

  def op(i: Int): Done = {
    val s = schema(2000L + i)
    val ((valid, viols), buildS) = timed(tr.span("compile.build") {
      (SchemaCompiler.validateDF(s, input, "valid"),
        SchemaCompiler.violationsDF(s, input, Seq("id")))
    })
    // counted through an aggregate: a `where(!valid)` filter costs seconds
    // of BooleanSimplification on a conjunction this wide (see README)
    val invalid = tr.span("compile.validate") {
      valid.agg(F.sum(F.when(F.col("valid"), 0L).otherwise(1L))).head().getLong(0)
    }
    val nViol = tr.span("eval.violations") { viols.count() }
    Done(n, Map("build_s" -> buildS), () =>
      check("invalid rows", invalid, dirty) ++
        check("violation rows", nViol, dirty))
  }

  override def cuts(i: Int): Map[String, Double] = {
    val rowHash = F.sum(F.pmod(F.xxhash64(input.columns.map(F.col)
      .toIndexedSeq: _*), F.lit(1000003L)))
    val (_, tRead) = timed(tr.span("cut.read") { input.agg(rowHash).collect() })
    val errs = SchemaCompiler.explainDF(schema(2000L + i), input, "errs")
    val (_, tHatch) = timed(tr.span("cut.hatch") {
      errs.agg(rowHash, F.sum(F.size(F.col("errs")))).collect()
    })
    Map("eval.hatch_s" -> (tHatch - tRead))
  }
}
