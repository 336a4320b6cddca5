package mallispark

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project}
import org.apache.spark.sql.execution.FileSourceScanExec
import mallispark.ir.S
import mallispark.compile.SchemaCompiler
import mallispark.run.WebPages

/** Physical-plan quality gates (the 100-TB questions): column pruning to
  * the scan, filter pushdown, broadcast joins for small dims, whole-stage
  * codegen over the validation expressions, map-side partial aggregation.
  * These assert the plan SHAPE, not timings — shape survives scale-up. */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString()
  }

  test("column pruning: validating one column reads ONLY that column") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val schema = S.map("l_returnflag" -> S.enum_("A", "N", "R"))
    val validated = SchemaCompiler.validateDF(schema, li, "valid")
      .select("valid")
    val scans = validated.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val readCols = scans.head.requiredSchema.fieldNames.toSet
    assert(readCols === Set("l_returnflag"),
      s"scan reads $readCols — pruning failed")
  }

  test("filter pushdown: violation predicate reaches the parquet scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(F.col("l_quantity") > 49.0)
    val scans = li.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(l_quantity,49.0)"),
      s"not pushed: $pushed")
  }

  test("snapshot diff shuffles only (key, digest) — payloads pruned at the scan") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val diff = mallispark.checks.TableChecks
      .snapshotDiff(d, d.where(F.col("doc_id") % 3 =!= 0), "doc_id",
        F.col("text"))
    // sparkPlan, not executedPlan: AQE wraps the join in
    // AdaptiveSparkPlanExec whose children aren't visible to collect
    val scans = diff.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // every scan reads exactly the key + payload column — lang/source/
    // n_chars never enter the plan, and the join input is (key, 64-hex
    // digest), so full payloads never shuffle
    scans.foreach { sc =>
      assert(sc.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
        s"scan reads ${sc.requiredSchema.fieldNames.mkString(",")}")
    }
    val plan = planOf(diff)
    assert(plan.contains("FullOuter"), s"no full-outer join:\n$plan")
  }

  test("snapshot_report plan: codegen only (no UDF), partial+final aggregation") {
    val plan = planOf(graft.SparkEntry.queries("snapshot_report")(spark, sf))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      "report path must stay inside codegen")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"no hash aggregation found:\n$plan")
  }

  test("bucketed tables join with no shuffle exchange (co-located layout)") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang")
    mallispark.run.Bucketing.writeBucketed(d, "bt_a", "doc_id", 4)
    mallispark.run.Bucketing.writeBucketed(
      d.withColumnRenamed("lang", "lang2"), "bt_b", "doc_id", 4)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the join path a 10^12-row table would take (no broadcast)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("bt_a").join(spark.table("bt_b"), "doc_id")
      val plan = j.queryExecution.sparkPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"not a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bt_a")
      spark.sql("DROP TABLE IF EXISTS bt_b")
    }
  }

  test("broadcast join chosen for the small dimension side") {
    val plan = planOf(graft.SparkEntry.queries("join_priority_counts")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("whole-stage codegen covers the validation expressions") {
    val pages = WebPages.derive(spark.read.parquet(s"$sf/documents.parquet"))
    val validated = SchemaCompiler.validateDF(WebPages.schema, pages, "valid")
    val plan = planOf(validated)
    // `*(n)` marks WholeStageCodegen stage n in the compact plan string
    assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
    // no UDFs / interpreted escapes in the core validation path
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("verdict aggregation is partial+final (map-side combine)") {
    val pages = WebPages.derive(spark.read.parquet(s"$sf/documents.parquet"))
    val res = mallispark.run.ValidationJob.run(pages, WebPages.schema,
      Seq("url"), nParts = 16)
    val plan = planOf(res.verdicts)
    // two HashAggregates around one exchange: partial then final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Exchange hashpartitioning(part_id"))
  }

  test("anti-join referential check uses a join, not a subquery per row") {
    val plan = planOf(graft.SparkEntry.queries("ref_lineitem_orders")(spark, sf))
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
  }

  test("top_hosts is two-stage top-k, not a global window sort") {
    val plan = planOf(graft.SparkEntry.queries("top_hosts")(spark, sf))
    // TakeOrderedAndProject = per-partition top-k + k-row merge; the only
    // Window in the plan runs AFTER the limit, over exactly k rows
    assert(plan.contains("TakeOrderedAndProject"), s"no 2-stage top-k:\n$plan")
    assert(!plan.contains("Exchange singlepartition\n+- *(") ||
      plan.contains("TakeOrderedAndProject"))
  }

  test("dedup paths run through the one-pass hash kernels") {
    // the portable md5 shingle work must appear as the fused kernel
    // expressions, not as interpreted transform/array_join HOF chains
    val lsh = planOf(graft.SparkEntry.queries("dedup_minhash_lsh")(spark, sf))
    assert(lsh.contains("shingle_minhash"), s"no kernel in LSH plan:\n$lsh")
    // no per-shingle string construction in-plan (band-key joins over the
    // k signature values are fine — that's k elements per doc, not per
    // shingle); the tokenizing split would betray the old HOF path
    assert(!lsh.contains("split(lower("), "shingle tokenization in-plan")
    // the bench query materializes the one-pass kernel projection
    // (localCheckpoint), which hides the expression from the final plan —
    // assert the wiring on the projection the pipeline materializes, and
    // that the materialized bench plan carries no tokenizing HOF chain
    val jacWiring = planOf(mallispark.text.Dedup.jaccardKernels(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      n = 3, k = 16, withLen = false))
    assert(jacWiring.contains("shingle_h60_set"),
      "no h60 kernel in jaccard plan")
    assert(jacWiring.contains("minhash_from_text"),
      "no minhash kernel in jaccard plan")
    val jac = planOf(graft.SparkEntry.queries("dedup_jaccard")(spark, sf))
    assert(!jac.contains("split(lower("), "shingle tokenization in-plan")
    val sim = planOf(graft.SparkEntry.queries("dedup_simhash")(spark, sf))
    assert(sim.contains("simhash_portable"), "no kernel in simhash plan")
    val ann = planOf(graft.SparkEntry.queries("ann_lsh_topk")(spark, sf))
    assert(ann.contains("hyperplane_buckets"), "no kernel in ANN plan")
    assert(ann.contains("BroadcastExchange"), "query side not broadcast")
  }

  test("IVF path: centroids broadcast, no corpus-wide window") {
    val plan = planOf(graft.SparkEntry.queries("ann_ivf_topk")(spark, sf))
    assert(plan.contains("BroadcastExchange"), s"centroids not broadcast:\n$plan")
    // the only windows partition by query_id (few rows) — the corpus cell
    // assignment is a partial+final max-struct aggregate, never a window
    val windows = "Window .*partitionBy".r.findAllIn(plan).toSeq
    assert(!plan.contains("windowspecdefinition(vec_id"),
      s"corpus-wide window in IVF plan:\n$plan")
  }

  test("multimodal frame sampling stays pure-Column (codegen, no UDF)") {
    val plan = planOf(graft.SparkEntry.queries("multimodal_frames")(spark, sf))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"UDF in frames plan:\n$plan")
  }

  test("multimodal decode stays pure-Column (no UDF, no shuffle before sort)") {
    // the pixel/sample sums are higher-order `aggregate` expressions —
    // Spark keeps those OUT of whole-stage codegen by design, but they
    // are still closure-free Catalyst expressions (no serialization
    // boundary, no ScalaUDF); the large-payload scale path is the
    // batched JVM decoder (extractFeatures)
    val plan = planOf(graft.SparkEntry.queries("multimodal_decode")(spark, sf))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"UDF in decode plan:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"unexpected shuffle in decode plan:\n$plan")
  }

  test("generation is scan-free codegen over range (no shuffle, no UDF)") {
    val plan = planOf(graft.SparkEntry.queries("gen_roundtrip")(spark, sf))
    assert(!plan.contains("ScalaUDF"), s"UDF in gen plan:\n$plan")
    assert(plan.contains("Range"), s"no Range source:\n$plan")
    // one exchange is the final orderBy sort; generation itself must not
    // shuffle — with 200 rows the sort collapses to a single partition
    assert(!plan.contains("hashpartitioning"),
      s"unexpected hash shuffle in gen plan:\n$plan")
  }

  test("embedding near-dup candidates are bucket-gated (no cartesian pairs)") {
    val qe = graft.SparkEntry.queries("dedup_embedding")(spark, sf)
      .queryExecution
    val physical = qe.sparkPlan.toString()
    // the only all-pairs work is WITHIN (tbl, bucket) cells — a full
    // corpus self-cartesian would appear as a nested-loop/cartesian join
    assert(!physical.contains("CartesianProduct"),
      s"cartesian pair generation:\n$physical")
    assert(qe.optimizedPlan.toString().contains("bucket"),
      "candidate join is not bucket-keyed")
  }

  test("hot-bucket cap predicate + bounded member collect are in-plan") {
    // the bucket-size cap must be a PLAN predicate (an adversarial
    // corpus degrades recall, never the job), and group member lists
    // must aggregate through the k-capped heap, not collect_list
    val jac = graft.SparkEntry.queries("dedup_jaccard")(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(jac.contains("bsz"), s"no bucket-size cap filter:\n$jac")
    assert(jac.contains("bounded_collect_min"),
      "bucket member collect is not state-bounded")
    val degen = graft.SparkEntry.queries("dedup_degenerate")(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(degen.contains("bounded_collect_min"),
      "degenerate-group member collect is not state-bounded")
    val emb = graft.SparkEntry.queries("dedup_embedding")(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(emb.contains("bsz"), s"no embedding bucket cap:\n$emb")
  }

  test("bounded collects aggregate partial+final (map-side heap merge)") {
    // the k-capped heap must combine map-side like any aggregate —
    // per-task state ≤ k per group BEFORE the shuffle, so a degenerate
    // group never ships its full membership across the exchange
    val df = spark.range(0, 1000, 1, 4)
      .select(F.pmod(F.col("id"), F.lit(5L)).as("g"), F.col("id"))
    val plan = df.groupBy("g")
      .agg(mallispark.expressions.BoundedCollectMin(F.col("id"), 3).as("b"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("partial_bounded_collect_min"),
      s"no partial aggregation for the bounded heap:\n$plan")
    assert(plan.contains("bounded_collect_min"), s"kernel missing:\n$plan")
  }

  test("violations_sampled plan: explode feeds a partial+final capped agg") {
    // the triage summary must combine map-side — a catastrophic input's
    // exemplar heaps stay O(k) per group per task BEFORE the shuffle
    val df = graft.SparkEntry.queries("violations_sampled")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("partial_bounded_collect_min"),
      s"no partial aggregation in the triage plan:\n$plan")
    assert(!plan.contains("collect_list"),
      s"unbounded collect in the triage plan:\n$plan")
  }

  test("LSH-gated jaccard has no full-table shingle self-join") {
    // the standalone quadratic shingle join is gone from the hot path:
    // every join in dedup_jaccard is either the banded candidate join or
    // keyed by (doc, shingle) against the candidate set
    val df = graft.SparkEntry.queries("dedup_jaccard")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString()
    // candidate gating present: band_key equi-join appears before any
    // shingle = shingle condition in the logical plan
    assert(optimized.contains("band_key"), s"no LSH gate:\n$optimized")
  }

  /** `size(e)` terms in Filter conditions that re-run a computed array:
    * `e` is not a column reference and is semantically equal to an
    * expression some Project or Generate ABOVE the filter computes — the
    * shape InferFiltersFromGenerate plus predicate pushdown leave when an
    * array computed in a projection is exploded by a plain generate (or
    * pre-filtered on its size): the array's expression runs twice per
    * row. `Explode` exists so that no plan has one. Expressions from
    * above are rewritten through each Project's aliases on the way down,
    * as pushdown rewrites the filter it moves. */
  private def sizeRecomputes(plan: LogicalPlan): Seq[Expression] = {
    def walk(p: LogicalPlan, above: Seq[Expression]): Seq[Expression] = {
      val here = p match {
        case f: Filter => f.condition.collect {
          case Size(e, _) if !e.isInstanceOf[Attribute] &&
              above.exists(_.semanticEquals(e)) => e
        }
        case _ => Nil
      }
      val below = p match {
        case Project(list, _) =>
          val aliases = list.collect { case a: Alias => a.exprId -> a.child }
            .toMap
          above.map(_.transform {
            case r: Attribute if aliases.contains(r.exprId) => aliases(r.exprId)
          }) ++ aliases.values
        case g: Generate => above ++ g.generator.children
        case _ => above
      }
      here ++ p.children.flatMap(walk(_, below))
    }
    walk(plan, Nil)
  }

  test("no query plan re-runs a computed array inside a size() Filter") {
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnlyQueries
    val t0 = System.nanoTime()
    val bad = all.toSeq.sortBy(_._1).flatMap { case (name, build) =>
      sizeRecomputes(build(spark, sf).queryExecution.optimizedPlan)
        .map(e => s"$name: size(${e.sql.take(160)})").distinct
    }
    info(f"swept ${all.size} query plans in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the size() sweep flags a plain explode and a size pre-filter") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val h60 = mallispark.expressions.ShingleH60Set(F.col("text"), 3)
    // InferFiltersFromGenerate infers only from a column input, so the
    // control explodes the kernel's column, the shape every engine site had
    val withSet = docs.select(F.col("doc_id"), h60.as("c"))
    val plainExplode = withSet.select(F.col("doc_id"), F.explode(F.col("c")))
    val sizePreFilter = withSet.where(F.size(F.col("c")) > 0)
    Seq(plainExplode, sizePreFilter).foreach { df =>
      val hits = sizeRecomputes(df.queryExecution.optimizedPlan)
      assert(hits.nonEmpty && hits.forall(_.sql.contains("shingle_h60_set")),
        s"control not flagged:\n${df.queryExecution.optimizedPlan}")
    }
    // the helper over the same kernel column is clean
    val helper = mallispark.expressions.Explode.computed(
      withSet, Seq(F.col("doc_id")), F.col("c"), "h")
    assert(sizeRecomputes(helper.queryExecution.optimizedPlan).isEmpty)
  }
}
