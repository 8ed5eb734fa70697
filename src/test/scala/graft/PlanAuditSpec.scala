package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-surface physical-plan audit: every SparkEntry query's
  * executed plan is checked against the scale invariants that
  * individual operator specs assert locally.
  *
  * - A CartesianProduct anywhere is an outright bug at 100 TB —
  *   never allowed.
  * - BroadcastNestedLoopJoin is allowed ONLY where a provably tiny
  *   side broadcasts by design: s1 broadcasts the query set against
  *   the map-only corpus scan. IVF probes (s4/s11/s12/s14) need none:
  *   the centroids are a literal of the map-side probe kernel.
  *   Anything else appearing here means a join lost its equi-key.
  * - Exchange SinglePartition is allowed ONLY on tiny-final-result
  *   reductions (global profile/funnel rollups, a 1-row filter
  *   result): a window or join collapsing to one partition would
  *   serialize the whole dataset through one task.
  *
  * New queries are audited automatically the moment they land in
  * SparkEntry.queries — extending the allowlists is a deliberate,
  * reviewed act.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSession._

  private val allowNestedLoop = Set(
    "s1_knn_brute",    // broadcast(query side) × corpus scan, per-partition top-k
    "g3_hits",         // broadcast(one-row phase total) for the
                       // integer HITS normalization; the edge
                       // passes stay keyed equi-joins
    "s6_filtered_knn", // broadcast(query side) × pre-filtered corpus
    "s7_mmr",          // s1's broadcast bruteForce feeds candidates; since the
                       // one-job rerank rewrite there is no checkpoint truncating
                       // the lineage, so the candidate stage's by-design NLJ
                       // shows in s7's (single) plan
    "s8_recall",       // composes s1's broadcast bruteForce (truth side)
    "s9_recall_sweep", // s8's shape swept over three probe levels
    "x19_mlt")         // the 1-row derived-df-cap frame broadcast
                       // over the df table (a constant equi-key
                       // would be constant-folded away)

  private val allowSinglePartition = Set(
    "e9_funnel",         // O(stages)-row final rollup
    "e16_windowed_funnel", // e9's plan under the conversion window:
                         // the same O(stages)-row final rollup
    "g3_hits",           // one-row phase-total reductions (the HITS
                         // normalization scalars)
    "x27_grouping",      // group-level rank window over the ALREADY
                         // doc-limited frame (O(limit·|groups|) rows
                         // — the x22 tiny-final-reduction shape)
    "q5_filter_project", // 1-row result of a selective filter
    "v5_profile",        // global column-profile aggregate (tiny)
    "v8_profile_drift",  // two v5-shaped global profiles + |cols|-row join
    "v12_quantile_drift",// two global quantile-sketch profiles (map-side
                         // partial sketches; only the |cols|×|pcts|-row
                         // merge serializes) + tiny profile join
    "v11_integrity",     // per-relation global count rollup (1 row each);
                         // the join itself is key-partitioned — only the
                         // 3-counter reduction serializes
    "p9_temperature",    // the p10 shape: n_min is a window-min over
                         // the O(|sources|)-row per-source count
                         // aggregate (one row per source), broadcast
                         // back to the docs; the per-doc draw stays
                         // map-side
    "p10_token_budget",  // cumsum window over the O(|sources|)-row
                         // source-level aggregate — the corpus-wide
                         // token count stays map-side partial
    "s9_recall_sweep",   // three 1-row recall totals (one per probe
                         // level) — the per-query counting is keyed;
                         // only the final 2-counter sums serialize
    "d21_lsh_recall",    // the s9 shape for LSH: one 2-counter global
                         // agg per band config (1-row frames unioned);
                         // truth/candidate generation stays keyed
    "p12_repeat_plan",   // the p10 pattern: global cumsum window over
                         // the O(|langs|)-row per-language aggregate —
                         // the corpus-wide token count is map-side
                         // partial before the tiny window
    "p14_epoch_manifest",// same p12-shaped plan frame (global window
                         // over O(|langs|) rows, then broadcast back);
                         // the doc-level manifest stages are keyed
    "d22_dedup_funnel",  // three 1-row global counts (total / exact /
                         // near) — the distinct counting is keyed and
                         // map-side partial; only the single-counter
                         // finals serialize
    "x19_mlt",           // the self-tuning df cap: one global KLL
                         // sketch merge (O(sketchK) state, map-side
                         // partial sketches) producing the 1-row cut
                         // frame; scoring stays shingle-keyed
    "s10_pq",            // Spark-INJECTED runtime bloom-filter
                         // subqueries on the refine joins
                         // (bloom_filter_agg: fixed-size bitmap,
                         // map-side partial — O(1) state like the KLL
                         // merges above, not a data serialization);
                         // codebook/encode/ADC stages stay keyed
    "s11_ivfpq",         // same injected bloom filters on the
                         // shortlist refine joins; probe/ADC keyed
    "s12_ivfpq_residual",// same refine-join bloom filters
    "x22_pivot_facet")   // parent top-k window over the
                         // O(|parent values|) aggregate (the p10
                         // shape); doc rows shuffle once, keyed by
                         // (parent, child), map-side partial

  test("no query plan contains a cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("nested-loop joins only where a tiny side broadcasts by design") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("BroadcastNestedLoopJoin") && !allowNestedLoop(name))
        Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected nested-loop joins (lost equi-key?) in: $offenders")
  }

  // Scan-pruning tier (r5 VERDICT #6): the operator specs assert
  // pruning on the operator APIs; this tier asserts it on the actual
  // SparkEntry query bindings, so a query-surface refactor that
  // silently un-prunes an indexed scan fails the suite, not just the
  // bench. Each entry: query name -> substrings its executed plan
  // must contain (a partition filter on the index's partition column,
  // or a non-empty parquet pushdown).
  private val requiredScanPruning: Map[String, Seq[String]] = Map(
    // persisted BM25 probe: only query-term token buckets scanned
    "x7_bm25" -> Seq("PartitionFilters: [", "tok_bucket"),
    // segmented BM25 probe: manifest-listed segments + token buckets
    "x8_seg_search" -> Seq("PartitionFilters: [", "tok_bucket"),
    // IVF×PQ probe: only the probed lists' code partitions scanned
    "s11_ivfpq" -> Seq("PartitionFilters: [", "list_id"),
    "s12_ivfpq_residual" -> Seq("PartitionFilters: [", "list_id"),
    // selective filter+project must reach the parquet scan (a
    // non-empty pushdown always leads with the IsNotNull guards)
    "q5_filter_project" -> Seq("PushedFilters: [IsNotNull"))

  test("indexed/selective scans keep their pruning filters (scan-pruning tier)") {
    val failures = requiredScanPruning.toSeq.sortBy(_._1).flatMap {
      case (name, needles) =>
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        val missing = needles.filterNot(plan.contains)
        if (missing.isEmpty) None
        else Some(s"$name missing $missing in:\n${plan.take(2000)}")
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
  }

  // Exchange-reuse tier (r15 VERDICT #3): the shuffle_hash-hinted
  // banded self-joins (d4/m5) put IDENTICAL exchanges on both join
  // branches; AQE's stage materialization must collapse them to ONE —
  // otherwise the whole scan→shingle/hash→explode map stage is paid
  // twice (the builder's r15 A/B read ~2× of d4's wall there). Reuse
  // is decided at execution, so the assertion runs the query and
  // reads the FINAL adaptive plan.
  // r18 extends the tier to every corpus-proportional self-join that
  // gained the hint this round: the LSH banded join (d3 — and through
  // it d8/d18/d21 and the label builds), SemDedup's cluster-pair join
  // (d11), and the containment postings join (d14).
  test("corpus-proportional self-joins reuse one exchange for both sides (d3/d4/d11/d14/m5)") {
    val failures = Seq("d4_simhash", "m5_phash_dedup", "d3_minhash_lsh",
      "d11_semdedup", "d14_containment").flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // materializes stages; AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
      if (!plan.contains("isFinalPlan=true"))
        Some(s"$name: adaptive plan did not finalize")
      else if (!plan.contains("ReusedExchange"))
        Some(s"$name: second banded join branch recomputes the map " +
          s"stage (no ReusedExchange) in:\n${plan.take(3000)}")
      else None
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
  }

  // Inferred-null-check tier (r15 VERDICT #9): a graft native
  // expression feeding a join key earns an isnotnull(<whole chain>)
  // filter from InferFiltersFromConstraints that re-evaluates the
  // chain per row (the d4 1.3→2.4 s regression class). The
  // SimplifyBothWaysNullChecks rule collapses those to input checks —
  // but only when the session wired GraftExtensions /
  // extraOptimizations. This guard fails the suite if any registry
  // query's optimized plan still carries an IsNotNull/IsNull over a
  // NullBothWays expression, so the rewrite's win cannot silently
  // evaporate under a future raw-SparkSession wiring. (XPathSlots is
  // exempt by construction: it is deliberately NOT NullBothWays —
  // it can return null on non-null input — so it never matches.)
  test("no optimized plan keeps a null-check over a NullBothWays expression") {
    import org.apache.spark.sql.catalyst.expressions.{IsNotNull, IsNull}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        val bad = plan.collect { case p =>
          p.expressions.flatMap(_.collect {
            case IsNotNull(c: graft.plans.NullBothWays) =>
              s"isnotnull(${c.getClass.getSimpleName})"
            case IsNull(c: graft.plans.NullBothWays) =>
              s"isnull(${c.getClass.getSimpleName})"
          })
        }.flatten
        if (bad.nonEmpty) Some(s"$name: ${bad.distinct.mkString(", ")}")
        else None
    }
    assert(offenders.isEmpty,
      s"un-collapsed null checks over native expressions (is the " +
        s"SimplifyBothWaysNullChecks wiring installed?): $offenders")
  }

  // Native-bloom tier (r16 VERDICT #3): d9's map-side decontamination
  // prefilter was the last hot-path ScalaUDF (a broadcast
  // bloom.mightContainLong closure over the exploded corpus); since
  // r17 it rides the engine's own BloomFilterAggregate /
  // BloomFilterMightContain pair (BloomFront), so the filter stays
  // inside whole-stage codegen. This pins the plan: the native probe
  // present, zero ScalaUDFs anywhere in the executed plan.
  test("d9's bloom prefilter is native: might_contain, no ScalaUDF") {
    val df = SparkEntry.queries("d9_bloom")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val udfs = plan.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF =>
          u.udfName.getOrElse(u.function.getClass.getSimpleName)
      })
    }.flatten
    assert(udfs.isEmpty, s"ScalaUDFs in d9's executed plan: $udfs")
    assert(plan.toString.contains("might_contain"),
      "native bloom probe missing from d9's executed plan")
  }

  test("single-partition exchanges only on tiny final reductions") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("Exchange SinglePartition") && !allowSinglePartition(name))
        Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected single-partition exchanges (serialization point) in: $offenders")
  }
}
