package graft

/** Plan-property regressions: the perf claims in PERF.md, enforced. A
  * change that turns a broadcast into a shuffled join, drops a pushdown,
  * or introduces a sort into a scale plan fails here, not in the next
  * benchmark. Plans are inspected at sf0.001 (shape, not size). */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def df(name: String) =
    SparkEntry.catalog.find(_.name == name).get.run(spark, d)
  private def plan(name: String): String =
    df(name).queryExecution.executedPlan.toString

  /** The FINAL adaptive plan (initial-plan section stripped): runs the
    * query (sf0.001 — cheap) so runtime exchange reuse is visible.
    * Static text replicates shared subtrees that AQE's stage cache
    * dedups, so reuse claims can only be pinned here. */
  private def finalPlan(name: String): String = {
    val frame = df(name)
    frame.collect() // same QueryExecution — a write would plan a fresh one
    val s = frame.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  /** Build `body` with the given confs set, restoring previous values. */
  private def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("filters and projections reach the parquet scan") {
    val p = plan("filter_null")
    assert(p.contains("PushedFilters: [IsNotNull(event_type)"))
    assert(!p.contains("Exchange"))
  }

  test("small-side joins broadcast") {
    assert(plan("lookup_join").contains("BroadcastHashJoin"))
    assert(plan("enrich_left").contains("BroadcastHashJoin"))
    assert(plan("leftover_anti").contains("BroadcastHashJoin"))
  }

  test("limits compile to TakeOrderedAndProject, never a global sort") {
    assert(plan("limit_players").contains("TakeOrderedAndProject"))
    assert(plan("topk_rank").contains("TakeOrderedAndProject"))
    assert(!plan("topk_rank").contains("Exchange"))
  }

  test("scale plans of large-output queries carry NO oracle sort") {
    for (q <- Seq("dedup", "enrich_match", "exists_semi", "explode_words",
        "doc_dedup", "minhash_bands"))
      assert(!plan(q).contains("Sort "), s"$q has a sort in its scale plan")
  }

  test("narrow ETL queries stay exchange-free") {
    for (q <- Seq("flatten", "flatten_perks", "explode_participants",
        "explode_events", "explode_map", "rename_prefix", "text_stats",
        "doc_fingerprint", "frame_sample", "route_file"))
      assert(!plan(q).contains("Exchange"), s"$q shuffles unexpectedly")
  }

  test("as-of joins once-shuffled; range join equi-joins on the bucket id") {
    val asof = plan("asof_join")
    assert("Exchange hashpartitioning".r.findAllIn(asof).length <= 2) // union sides co-shuffled
    assert(!asof.contains("CartesianProduct") && !asof.contains("BroadcastNestedLoopJoin"))
    val range = plan("range_join")
    assert(range.contains("_bucket")) // the non-equi predicate rides an equi-join
    assert(!range.contains("CartesianProduct"))
  }

  test("aggregations partial-aggregate before their single exchange") {
    for (q <- Seq("q1_agg", "census_by_queue", "window_tumbling")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, s"$q exchanges")
      assert(p.contains("partial"), s"$q lacks partial aggregation")
    }
    // simhash left this list when its signature moved to the per-row
    // kernel: the exploded 32-column aggregate (and its exchange) is gone
    val sh = plan("simhash")
    assert(!sh.contains("Exchange hashpartitioning"), "simhash re-grew a shuffle")
    assert(sh.contains("simhash_sig"), "simhash no longer uses the native kernel")
  }

  test("similarity kernels run the native scaled_dot inside whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    val p = plan("knn_cosine")
    assert(p.contains("scaled_dot"), "knn_cosine no longer uses the native expression")
    // the HOF chain it replaced would surface as aggregate(zip_with(...))
    assert(!p.contains("zip_with") && !p.contains("aggregate("),
      "interpreted HOF chain crept back into the similarity kernel")
    // the projection computing the similarity is inside a codegen span
    val df = graft.sources.Tables.embeddings(spark, d)
      .select(graft.operators.Vectors
        .dotScaled(col("embedding"), col("embedding")).as("n2"))
    val exec = df.queryExecution.executedPlan.toString
    // "*(n) Project [scaled_dot(...)" — the * prefix IS the
    // WholeStageCodegen marker in executedPlan.toString
    assert("""\*\(\d+\) Project \[scaled_dot""".r.findFirstIn(exec).isDefined,
      s"scaled_dot projection fell out of codegen:\n$exec")
  }

  test("training_prep: every join hash-based, no cartesian anywhere in the chain") {
    val p = plan("training_prep")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the composed prep chain grew a cartesian/nested-loop join")
    // the near-dup drop is an anti-join against the cluster labeling,
    // with NO static broadcast hint — the drop list is corpus-
    // proportional (VERDICT r07 finding 2), so broadcast is AQE's
    // runtime call, never forced. (The LSH pairing + connected
    // components run inside the checkpointed Components subgraph, so
    // they are not in THIS plan — the pairing shape itself is pinned
    // below on minhash_pairs.)
    assert(p.contains("LeftAnti"), "canonical-keep drop lost its anti-join")
    assert(plan("minhash_pairs").contains("collect_set"),
      "bucket-group pairing shape lost")
  }

  test("minhash_pairs: first-band emission + in-sort singleton census, ONE exchange") {
    // the generator's first-band form makes pairs globally unique at
    // generation (no pair-multiset distinct — that was 2×5.6 GB of
    // sf100 spill, round-12 census), and the round-15 singleton-bucket
    // census is a WINDOW count inside the bucket exchange's sort — the
    // only exchange in the plan, whose partitioning the downstream
    // collect_set aggregate then rides exchange-free. What must not
    // return: a second full-stream aggregate (the count+semi-join
    // census form re-spilled 34 GB at sf1000 — PERF.md round-15), or a
    // pair-keyed exchange (the old cross-band distinct).
    val p = plan("minhash_pairs")
    // upper bound, not exact: the hard pins are the negative shape
    // assertions below — a planner stats change that merely re-labels
    // the one bucket exchange must not fail the suite, but a SECOND
    // hash exchange appearing would be a real regression
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"minhash_pairs: expected at most the bucket exchange, found $exchanges")
    assert("Window \\[count".r.unanchored.matches(p),
      "in-sort singleton census window lost")
    assert(!"hashpartitioning\\(doc_a#\\d+L?, doc_b#".r.unanchored.matches(p),
      "pair-keyed exchange returned (cross-band distinct shape)")
  }

  test("minhash_pairs_verified: sig-join form — light buckets, no pair-keyed or sig-wide shuffle") {
    // round-15 shape: candidates come from (id, kp)-only bucket rows
    // census-pruned of singleton buckets, barriered ONCE (the
    // candidate distinct — its exchange is reused by both member-id
    // subtrees), and verification joins a signature frame that is
    // semi-pruned to candidate members BEFORE its (id, sig) distinct
    // (the corpus-wide barrier cost 10.3 GB of aggregate spill plus
    // 14 GB of verify SMJ sorts at sf1000 — PERF.md round-15). What
    // must NEVER return: the signature riding in the bucket rows (the
    // one-pass form whose grouping sort was linear in sig bytes), a
    // second pair-keyed exchange (the old cross-band distinct ON TOP
    // of the barrier), or an unpruned corpus-wide sig distinct.
    val p = finalPlan("minhash_pairs_verified")
    // exactly ONE materialized pair-keyed exchange: the candidate reuse
    // barrier — every other consumer is a runtime ReusedExchange (whose
    // line NAMES the reused exchange, so count lines, not substrings)
    val pairKeyed = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(doc_a") && !l.contains("ReusedExchange"))
    assert(pairKeyed == 1,
      s"expected exactly the candidate barrier exchange, found $pairKeyed")
    assert("ReusedExchange \\[doc_a#".r.unanchored.matches(p),
      "candidate barrier not reused by the member-id subtrees")
    // the sig frame is semi-pruned to candidate members before distinct
    assert("LeftSemi".r.unanchored.matches(p),
      "member-id semi-prune of the signature frame lost")
    // materialized doc_id-keyed exchanges: the signature scan + the
    // member-id distinct, each built once and reused by the second
    // verify side
    val sigExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(doc_id") && !l.contains("ReusedExchange"))
    assert(sigExchanges <= 2,
      s"signature/member-id exchanges multiplied, found $sigExchanges")
    // the bucket rows must not carry the signature: the collect_set
    // struct is (i, kp) only
    assert(!"collect_set\\(struct\\([^)]*sig".r.unanchored.matches(p) &&
      !"collect_set\\(struct\\(i, [^,]+, g,".r.unanchored.matches(p),
      "bucket grouping carries the signature again (one-pass shape)")
  }

  test("train_split is a pure narrow map; pivot has one exchange, no domain scan") {
    val split = plan("train_split")
    assert(!split.contains("Exchange"), "train_split gained a shuffle")
    val pivot = plan("pivot_census")
    // explicit value list ⇒ ONE scan of orders (domain discovery would add
    // a second scan + a driver collect). Spark compiles pivot as two-phase
    // aggregation — (group, pivot) agg, then pivot agg — so two exchanges
    // are the operator's standard shape; the second carries group rows only
    assert("Exchange hashpartitioning".r.findAllIn(pivot).length <= 2)
    assert("Scan parquet".r.findAllIn(pivot).length == 1, "pivot re-scans for its domain")
    val delta = plan("event_delta")
    assert("Exchange hashpartitioning".r.findAllIn(delta).length == 1)
  }

  test("two-phase scans: no row-level window spans a whole source") {
    // VERDICT r06 findings 2/3: a Window partitioned by `source` alone and
    // ordered by doc_id is a sequential per-source prefix scan on ONE task.
    // The rewritten plans may only order doc_id inside a (source, seg)
    // partition; the per-source-only window must order over the SEGMENT
    // frame (post-aggregation, #segments rows).
    for (q <- Seq("per_source_cap", "pack_sequences")) {
      val p = plan(q)
      assert("""windowspecdefinition\(source#\d+, doc_id#\d+L? ASC""".r
        .findFirstIn(p).isEmpty,
        s"$q regressed to a whole-source row-level window")
      assert("""windowspecdefinition\(source#\d+, seg#\d+L?, doc_id#\d+L? ASC""".r
        .findFirstIn(p).isDefined,
        s"$q lost its segment-bounded row-level window:\n$p")
      assert("""windowspecdefinition\(source#\d+, seg#\d+L? ASC""".r
        .findFirstIn(p).isDefined,
        s"$q lost its segment-frame offset window:\n$p")
    }
  }

  test("media_knn: query side broadcasts; no cartesian; scaled_dot stays native") {
    val p = plan("media_knn")
    // the ≠ join predicate forces a nested loop — acceptable ONLY because
    // the build side is the bounded query set (k rows), which must be the
    // broadcast side; an unbroadcast nested loop here would be a cartesian
    // over the corpus
    assert(p.contains("BroadcastNestedLoopJoin"), "query side lost its broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("scaled_dot"), "similarity kernel fell back off the native expression")
  }

  test("corpus_dedup_probe: one anti-join against the labeling artifact, no forced broadcast") {
    val p = plan("corpus_dedup_probe")
    assert(p.contains("graft_cc_"), "probe is not reading the persisted labeling")
    assert(p.contains("LeftAnti"), "canonical-keep filter lost its anti-join")
    // at this SF the planner broadcasts the drop list from its MEASURED
    // size — allowed; what is pinned (below, threshold=-1) is that no
    // HINT forces it, because the drop list is corpus-proportional
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val sm = df("corpus_dedup_probe").queryExecution.executedPlan.toString
      // past the broadcast threshold, the labels artifact — bucketed on
      // doc_id at build time — joins WITHOUT its own exchange: the only
      // shuffle is the corpus projection entering the bucket layout
      assert(sm.contains("SelectedBucketsCount"), s"labels scan lost bucketing:\n$sm")
      assert("Exchange hashpartitioning".r.findAllIn(sm).length == 1,
        s"expected exactly the corpus-side exchange:\n$sm")
    }
  }

  test("dedup_hash: corpus anti-joins a dup-rate-sized drop set as a runtime broadcast (VERDICT r11 #7)") {
    import org.apache.spark.sql.functions._
    // the semi form sorted FULL-WIDTH rows against a corpus-sized keeper
    // set (4.4 GB spill at sf100); the drop-set form's anti join must
    // resolve to an AQE broadcast — the bodies never shuffle or sort
    val frame = df("dedup_hash")
    // drive THIS plan's own RDD — frame.count() would compile a separate
    // count plan and leave frame's AdaptiveSparkPlan unexecuted
    frame.queryExecution.executedPlan.execute().count()
    val p = frame.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"dedup_hash's drop-set anti join did not become a broadcast:\n$p")
    // the round-robin repartition after the count>1 filter is the stage
    // boundary that lets AQE MEASURE the dup-rate-sized frame before the
    // join-back is planned (without it the join compiles into the
    // aggregate's stage and sort-merges the corpus-sized pair side —
    // 20 GB of sort spill at sf1000); a same-key repartition is elided,
    // so its survival in the executed plan is the claim
    assert(p.contains("RoundRobinPartitioning"),
      s"dedup_hash's post-filter stage boundary disappeared:\n$p")
    // differential vs the keeper-side semi form it replaced
    val docs = graft.sources.Tables.documents(spark, d)
    val semi = docs.join(
      docs.groupBy(sha2(col("text"), 256).as("_h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(frame.select("doc_id").collect().map(_.getLong(0)).toSet == semi)
  }

  test("dedup drop-lists carry no corpus-proportional broadcast hint (VERDICT r07)") {
    // with size-based broadcast disabled, any surviving BroadcastExchange
    // can only come from a static hint — exactly what finding 1/2 bans
    // for join sides that grow with the corpus (AQE off + executedPlan:
    // exchanges exist only after EnsureRequirements)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      for (q <- Seq("incremental_dedup", "corpus_dedup", "corpus_dedup_probe",
          "training_prep")) {
        val p = df(q).queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastExchange"),
          s"$q still forces a broadcast on a corpus-proportional side:\n$p")
      }
    }
  }

  test("incremental_dedup: bucketed corpus index joins with no exchange on the corpus side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off so executedPlan is the traversable post-EnsureRequirements
    // tree (with AQE it is an opaque AdaptiveSparkPlanExec leaf)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val plan = df("incremental_dedup").queryExecution.executedPlan
      val indexScans = plan.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("graft_incr_")) => s
      }
      assert(indexScans.size == 2, s"expected hash+band index scans, got $indexScans")
      assert(indexScans.forall(_.bucketedScan),
        "corpus index scans are not bucketed — the co-located join is lost")
      // the corpus index must never itself be reshuffled: no exchange may
      // sit directly over an index scan (downstream exchanges ABOVE the
      // join — e.g. the distinct's aggregation — are the batch's, and
      // legitimately contain the scan deep in their subtree)
      def scansIndexDirectly(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.exists(_.toString.contains("graft_incr_"))
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case other => other.children.exists(scansIndexDirectly)
        }
      val shuffledIndex = plan.collect { case e: ShuffleExchangeExec => e }
        .exists(e => scansIndexDirectly(e.child))
      assert(!shuffledIndex, "corpus index is reshuffled before its join")
    }
  }

  test("incremental_dedup_bloom: bloom pre-gate keeps the corpus index bucketed and hint-free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val plan = df("incremental_dedup_bloom").queryExecution.executedPlan
      val p = plan.toString
      // the gate is worthless if the probe stops reading the sidecar
      assert(p.contains("graft_bloom_"), "bloom sidecar not in the plan")
      // with broadcasts disabled nothing may force one: the bloom table is
      // corpus-proportional (sublinear bytes, linear growth) — its join
      // must degrade to a shuffle, never a mandatory BroadcastExchange
      assert(!p.contains("BroadcastExchange"),
        "a static broadcast hint survives in the bloom path")
      // corpus hash/band index scans stay bucketed behind the pre-gate
      val indexScans = plan.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("graft_incr_")) => s
      }
      assert(indexScans.nonEmpty && indexScans.forall(_.bucketedScan),
        "corpus index scans lost their bucket layout behind the bloom gate")
    }
  }

  test("semantic_decontam: ONE corpus×benchmark pass (single nested-loop subtree)") {
    val p = plan("semantic_decontam")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"the dominant cosine pass is not executed exactly once:\n$p")
  }

  test("curation: narrow rows stay exchange-free; decontamination broadcasts") {
    // quality gate / scrub / mix are pure codegen'd maps — zero shuffle
    for (q <- Seq("gopher_filter", "pii_scrub", "domain_mix"))
      assert(!plan(q).contains("Exchange"), s"$q shuffles unexpectedly")
    // the benchmark gram set broadcasts; the corpus side never shuffles
    // for the probe (the only hash exchange is the per-doc hit count)
    val dec = plan("decontaminate")
    assert(dec.contains("BroadcastHashJoin"), "benchmark grams lost their broadcast")
    assert(!dec.contains("SortMergeJoin") && !dec.contains("CartesianProduct"))
    // composed funnel keeps the same discipline end to end
    val prep = plan("curate_prep")
    assert(prep.contains("BroadcastHashJoin") && prep.contains("LeftAnti"),
      "contaminated-id set is not a broadcast anti-join")
    assert(!prep.contains("SortMergeJoin") && !prep.contains("CartesianProduct"))
    // repetition is a per-row computation since the term_profile kernel
    // (r11): a narrow projection with NO exchange at all — the 6.5 GB
    // token shuffle the old explode+HashAggregate form paid is gone
    val rep = plan("repetition_profile")
    assert(!rep.contains("Exchange"), "repetition_profile shuffles again")
    assert(rep.contains("term_profile"), "repetition_profile lost the native kernel")
  }

  test("curriculum_order: range-partitioned two-phase rank, no global window") {
    val p = plan("curriculum_order")
    assert(p.contains("rangepartitioning"), "lost the distributed range sort")
    // every row_number window must be partition-local (keyed on _pid);
    // a global window would read "Window [...], [n_words ...]" with no
    // partition spec and funnel the corpus through one reducer
    val rowNumberWindows = "Window \\[row_number\\(\\)[^\\n]*".r.findAllIn(p).toSeq
    assert(rowNumberWindows.nonEmpty)
    assert(rowNumberWindows.forall(_.contains("_pid")),
      s"global row_number window found: ${rowNumberWindows.mkString("; ")}")
  }

  test("rplsh_probe reads the persisted key table; only rplsh_knn pays the signature build") {
    val probe = plan("rplsh_probe")
    assert(probe.contains("graft_rplsh_"), "probe is not reading the persisted key table")
    // the signature build explodes vector positions — absent from the probe
    assert(!probe.contains("posexplode"),
      "probe plan recomputes the plane signatures")
    assert(plan("rplsh_knn").contains("posexplode"),
      "rplsh_knn lost its signature build (fixture drift?)")
  }

  test("semdedup_ann: first-band pair emission — no pair-keyed distinct exchange") {
    // round 17: bandPairsCapped emits each candidate pair only at its
    // first colliding band, so the terminal distinct() — one full
    // exchange+hash-agg of the (vec_a, vec_b) candidate multiset,
    // ~640 M rows at 20 M vectors — is gone. The old shape read
    // "Exchange hashpartitioning(vec_a#…, vec_b#…)"; nothing in the
    // new plan may partition on the pair key.
    val p = plan("semdedup_ann")
    assert(!"hashpartitioning\\(vec_a#\\d+L?, vec_b#".r.unanchored.matches(p),
      "pair-keyed distinct exchange is back in the candidate stream")
  }

  test("brute-force top-k rows are sort-free: bounded-heap agg, no window over the score stream") {
    // round 18 (VERDICT r17 missing #4): the queries×corpus score
    // streams (10 × 20 M rows at sf1000) used to flow through the
    // window top-k, whose per-partition sort spilled 5.6-6.4 GB per
    // recall audit; the TopKBy bounded-heap aggregate replaces the sort
    // with one k-slot buffer per (query, partition). Pin the shape on
    // the rows that carry a corpus-sized stream into their top-k.
    for (q <- Seq("knn_cosine", "knn_bucketed", "quant_knn")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q: the corpus-sized score stream regressed to a window top-k sort")
      assert(p.contains("top_k_by"),
        s"$q: bounded-heap top-k aggregate missing from the plan")
    }
  }

  test("no catalog row's plan falls back to SortAggregate (buffer-width sweep)") {
    // the r15/r16 defect class, generalized (VERDICT r16 #6): the
    // aggregation BUFFER TYPE, not the function name, decides the
    // physical aggregate — max(struct(...)) / non-fixed-width buffers
    // silently become SortAggregate, which per-partition-sorts the
    // aggregate's whole input (the r16 sf100 OOM at n·k rows). Pin the
    // absence catalog-wide at sf0.001 so the next slip fails here, not
    // at the third decade. ObjectHashAggregate (collect_list et al.) is
    // a hash-based node and stays allowed.
    // a row that fails to PLAN must fail the sweep, not silently fall
    // out of it (ADVICE r17: a Try-dropped planning error shrank the
    // sweep's coverage without failing — the exact defect class this
    // test pins could then return unobserved on the broken row)
    val failed = collection.mutable.Buffer.empty[(String, String)]
    val offenders = SparkEntry.catalog.flatMap { q =>
      scala.util.Try(q.run(spark, d).queryExecution.executedPlan.toString) match {
        case scala.util.Success(p) =>
          if (p.contains("SortAggregate")) Some(q.name) else None
        case scala.util.Failure(e) =>
          failed += ((q.name, Option(e.getMessage).getOrElse(e.getClass.getName).take(120)))
          None
      }
    }
    assert(failed.isEmpty,
      s"rows failed to plan (silently exempt from the sweep): ${failed.mkString("; ")}")
    assert(offenders.isEmpty,
      s"SortAggregate fallback in: ${offenders.mkString(", ")}")
  }

  test("ivf_probe reads the persisted index; only ivf_knn pays the build") {
    // probe plan: scans the index parquet (centroids + assignments) and
    // never recomputes the corpus assignment (no posexplode/Lloyd stage)
    val probe = plan("ivf_probe")
    assert(probe.contains("graft_ivf_"), "probe is not reading the persisted index")
    assert(!probe.contains("posexplode"),
      "probe plan contains the centroid-mean build stage")
    // ivf_knn pays the Lloyd build PER RUN — since round 21 the built
    // centroid table is materialized at frame-construction time (the
    // plan references it four times, one through a pushed filter the
    // exchange cache cannot dedup), so the build is pinned dynamically:
    // constructing the frame must drive the labeled ivf:centroids jobs,
    // and the final plan must read the in-memory checkpoint — never the
    // persisted BuildOnce index (that would flip the row's declared
    // cost model from build+probe to probe-only).
    val (build, jobs) = graft.plans.PlanMetrics.measureJobs(spark)(plan("ivf_knn"))
    assert(jobs.exists(_.desc == "ivf:centroids"),
      "ivf_knn construction no longer drives the Lloyd build (cost model drift?)")
    assert(!build.contains("graft_ivf_"),
      "ivf_knn read the persisted index instead of paying its build")
    assert(build.contains("ExistingRDD"),
      "ivf_knn's plan no longer reads the materialized centroid table")
  }

  test("building the ivf_knn frame keeps an enclosing job label") {
    // a traced run labels its jobs by span; the labeled ivf:centroids
    // build must hand the caller's label back, not clear it
    val sc = spark.sparkContext
    sc.setJobDescription("enclosing span")
    try {
      df("ivf_knn")
      assert(sc.getLocalProperty("spark.job.description") == "enclosing span")
    } finally sc.setJobDescription(null)
  }

  test("quant_knn probes persisted int8 codes: no re-quantization, native int_dot") {
    val probe = plan("quant_knn")
    assert(probe.contains("graft_quant_"), "not reading the persisted codes")
    // quantization = array_max(transform(...)) over the float embeddings —
    // build-time only; the probe must consume the tinyint codes as-is
    assert(!probe.contains("array_max"), "probe plan re-quantizes the corpus")
    assert(probe.contains("int_dot"), "quantized kernel not the native expression")
    // the probe never opens the float embeddings table at all
    assert(!probe.contains("embeddings.parquet"),
      "probe plan scans the float embeddings instead of the codes")
    // column pruning reaches the codes scan: the artifact carries a
    // label column the query never references — reading it would give
    // back part of the 4x byte win
    assert(!probe.contains("label"),
      "codes scan reads the unused label column (pruning lost)")
  }

  test("semdedup: clusters come from the persisted IVF artifact; no cartesian; guard in-plan") {
    val p = plan("semdedup")
    // round 12: the cluster assignment is READ from ivf_probe's
    // build-once artifact — no per-run k-means build (the inline build's
    // BroadcastNestedLoopJoin assignment must be gone) and no
    // unbroadcast cross join anywhere in the chain
    assert(p.contains("graft_ivf"),
      "semdedup no longer reads the persisted IVF assignment")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "an inline centroid-assignment build reappeared in semdedup")
    assert(!p.contains("CartesianProduct"),
      "an unbroadcast cross join appeared in the semdedup chain")
    // the in-cluster pair stage carries the density guard (raise_error
    // filter cannot be pruned): a manufactured hot cluster must refuse
    assert(p.contains("raise_error"), "bucket-density guard fell out of the plan")
  }

  test("catalog names are unique and every oracle key has a query") {
    // queries/oracleSql are Maps keyed by name: a duplicated catalog name
    // would silently SHADOW one implementation — the driver would verify
    // and bench the survivor while the shadowed row reports green forever
    val names = SparkEntry.catalog.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate catalog names: ${dups.mkString(", ")}")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
