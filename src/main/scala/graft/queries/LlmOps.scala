package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Components, TextOps, Vectors}

/** LLM-training-data pipeline operators (builder brief; SURVEY §7.2 step 7):
  * exact + MinHash-LSH + SimHash + n-gram-Jaccard dedup, cosine similarity
  * search (brute-force baseline + bucketed scale path), text analysis over
  * `documents`, ANN over `embeddings`.
  *
  * Determinism: all hashing goes through [[graft.queries.hash60]] (md5 —
  * engine-portable), all float math through the scaled-integer contract in
  * [[graft.operators.Vectors]], so every query has an exact DuckDB oracle.
  *
  * Scale design notes are on each query; the common rules: shuffle on
  * bucket/hash keys only (never all-pairs), broadcast the small side
  * (query vectors), partial top-k before any global ranking.
  */
object LlmOps {

  private val P = TextOps.P
  private def h60(e: String): String = hash60Sql(e)

  /** Fixture layout constants (ADVICE r06): the incremental-dedup corpus/
    * batch boundary and the hybrid-search query document. Lifted to named
    * constants with loud non-empty guards in the queries, so a fixture
    * regeneration turns into an error, never a vacuous pass. */
  val CorpusBoundaryId = 400L
  val HybridQueryVecId = 0L
  val HybridTerms: Seq[String] = Seq("spark", "table", "hash")

  /** The semantic-decontam benchmark is the FIXED id set
    * `vec_id % 50 = 0 AND vec_id < SemanticBenchMaxId` — ten vectors,
    * present in every fixture SF (the smallest carries ids 0..499), and
    * CONSTANT as the corpus grows: eval suites don't scale with
    * training data, so the catalog row must measure a linear corpus
    * pass, not a benchmark that quietly grows with the fixture. */
  val SemanticBenchMaxId = 500L

  /** SQL twin of [[TextOps.sigAgreement]] over the oracle's `g` CTE
    * (s0..s15 signature columns): count of equal components between the
    * signatures aliased `a` and `b`. */
  private def sigEqSql(a: String, b: String): String =
    (0 until TextOps.minhashA.size)
      .map(i => s"CASE WHEN $a.s$i = $b.s$i THEN 1 ELSE 0 END").mkString(" + ")

  private val MinEq = TextOps.verifyMinEqual

  /** Oracle plumbing shared with [[StreamingOps]]' near-dup twin: the
    * band CTE chain over `documents` (incl. the `g` signature CTE) and
    * the signature-agreement sum. */
  private[queries] def bandsWithSigCtes: String = bandsSqlCtes("documents")
  private[queries] def sigAgreementSql(a: String, b: String): String = sigEqSql(a, b)

  /** Exact content-hash dedup (brief: "exact (hash-groupBy)"): group by
    * sha256 of the content, keep the minimum id as canonical. One shuffle
    * on the 64-hex hash — at 100 TB the hash (32 B) shuffles, never the
    * document body. */
  val docDedup = Q("doc_dedup", (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy(sha2($"text", 256).as("content_hash"))
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
  }, Some("""
    SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1 ORDER BY content_hash"""),
    sortCols = Seq("content_hash"))

  /** Production-shape exact corpus dedup (VERDICT r10 next-round #4):
    * land the KEPT documents themselves, first-wins per content hash —
    * where [[docDedup]] emits the hash→keeper mapping, this emits the
    * surviving full rows. The wide text column never crosses a group-by
    * exchange: phase 1 derives first-wins ids shuffling only (32 B hash,
    * 8 B id) pairs after map-side partial agg.
    *
    * Phase 2 joins on the DROP set, not the keeper set (VERDICT r11 #7:
    * the keeper-side left-semi was the residual 4.4 GB sf100 spill —
    * keepers ≈ the corpus on any mostly-unique corpus, so the semi join
    * sort-merged FULL-WIDTH rows against a same-size id set). Drops =
    * (hash, id) pairs minus the per-hash min — sized by the DUP RATE,
    * not the corpus (production corpora dedup at a few percent; this
    * fixture lower still) — so AQE turns the left-anti into a broadcast
    * and the document bodies never shuffle or sort at all. Worst case
    * (everything a dup) the anti join degrades to the sort-merge the
    * semi form always paid. ScaleTechniquesSpec measures the keeper-
    * phase shuffle drop on a wide-payload frame AND pins the no-
    * corpus-exchange claim; the fixture carries no exact dups at sf0.01
    * (everything survives — same property doc_dedup's n_copies shows),
    * while the scaled fixtures' copies give it real work. */
  val dedupHash = Q("dedup_hash", (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // narrow (hash, id) projection — the only thing that ever shuffles
    val pairs = docs.select(sha2($"text", 256).as("_h"), $"doc_id")
    // only hashes with >1 member can produce a drop: that set is sized
    // by the dup rate, so the join back to pairs broadcasts — the second
    // pairs pass never shuffles (first measured form joined the FULL
    // keeper set: a second 300 MB/decade exchange for nothing).
    // The round-robin repartition is a deliberate STAGE BOUNDARY
    // (fourth-decade lesson, sf1000 adaptive-plan audit): without it the
    // aggregate's output partitioning already satisfies the join, the
    // join compiles into the SAME stage as the aggregate, and AQE never
    // gets a materialized-stage size with which to demote the
    // statically-planned sort-merge — so the corpus-sized pairs side
    // SORTED (20 GB spill at sf1000). A same-key repartition($"_h") gets
    // elided as redundant; round-robin has a different distribution, so
    // the boundary survives, AQE measures the dup-rate-sized frame there,
    // and the join-back plans broadcast. When the dup rate is
    // pathological the extra exchange is narrow-row and the join degrades
    // to the same SMJ it replaced.
    val dupHashes = pairs.groupBy($"_h")
      .agg(min($"doc_id").as("_keep"), count(lit(1)).as("_n"))
      .filter($"_n" > 1).drop("_n")
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
    val drops = pairs.join(dupHashes, "_h")
      .filter($"doc_id" =!= $"_keep").select($"doc_id")
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
  }, Some(dedupHashSql), sortCols = Seq("doc_id"))

  private lazy val dedupHashSql = """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256(text))
    ORDER BY doc_id"""

  /** [[dedupHash]]'s STANDING-CORPUS form (VERDICT r13 item 5, the index
    * analog of `corpus_dedup` → `corpus_dedup_probe`): the corpus-wide
    * hash aggregate — the one part of the inline form whose cost is the
    * full key cardinality (at sf1000 the 50 M-key HashAggregate itself
    * spills ~8 GB, PERF.md fourth decade) — runs ONCE at labeling time
    * and lands the exact-dup DROP SET (non-keeper doc_ids) as a
    * build-once artifact bucketed on doc_id. Every downstream consumer
    * then pays only the probe: one anti-join of the corpus against a
    * dup-rate-sized id list. No static broadcast hint (the drop set is
    * dup-rate-, not corpus-proportional — but that is a data property,
    * not a bound): AQE broadcasts from measured size, and past the
    * threshold the bucketed labels side sort-merges without shuffling.
    * Same oracle as `dedup_hash` verbatim — the artifact must reproduce
    * the inline result exactly. */
  val dedupHashProbe = Q("dedup_hash_probe", (s, d) => {
    import s.implicits._
    val drops = s.table(exactDropSet(s, d))
    Tables.documents(s, d).join(drops, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
  }, Some(dedupHashSql), sortCols = Seq("doc_id"))

  /** Persisted exact-dup drop set backing [[dedupHashProbe]]: phase 1 of
    * [[dedupHash]] (narrow (hash, id) pairs → first-wins per hash →
    * non-keepers), landed bucketed on doc_id under a build-once stamp of
    * the documents fingerprint. */
  private def exactDropSet(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val base = graft.sources.BuildOnce.dir("graft_xdrop",
      graft.sources.BuildOnce.stampOf(s"$d/documents.parquet", "xdrop-v1|sha256|minkeep"),
      b => graft.sources.ArtifactStore.exists(s"$b/drops/_SUCCESS")) { tmp =>
      val pairs = Tables.documents(s, d)
        .select(sha2(col("text"), 256).as("_h"), col("doc_id"))
      val dupHashes = pairs.groupBy(col("_h"))
        .agg(min(col("doc_id")).as("_keep"), count(lit(1)).as("_n"))
        .filter(col("_n") > 1).drop("_n")
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      val tag = s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
      pairs.join(dupHashes, "_h").filter(col("doc_id") =!= col("_keep"))
        .select(col("doc_id"))
        .write.bucketBy(graft.sources.DedupIndex.Buckets, "doc_id").sortBy("doc_id")
        .option("path", s"$tmp/drops").saveAsTable(s"graft_build_xdrop_$tag")
      s.sql(s"DROP TABLE graft_build_xdrop_$tag")
    }
    graft.sources.DedupIndex.registerBucketed(s, s"$base/drops",
      "graft_xdrop_drops", "doc_id BIGINT", Seq("doc_id"))
  }

  /** The MinHash band CTE chain (`t, sh, hs, g, b`) over `src` — WITHOUT
    * the leading `WITH`, so callers can splice it into a larger chain. */
  private def bandsSqlCtes(src: String): String = {
    val sigs = TextOps.minhashA.zip(TextOps.minhashB).zipWithIndex.map {
      case ((a, b), i) =>
        s"list_min(list_transform(hv, h -> ($a * h + $b) % $P)) AS s$i"
    }.mkString(",\n      ")
    val bandRows = (0 until TextOps.bands).map { j =>
      val cols = (j * TextOps.rowsPerBand until (j + 1) * TextOps.rowsPerBand)
        .map(i => s"CAST(s$i AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $j AS band, ${h60(s"concat_ws('_', $cols)")} AS band_key FROM g"
    }.mkString("\n      UNION ALL ")
    s"""t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM $src),
    sh AS (SELECT doc_id, CASE WHEN len(w) >= 3
        THEN list_transform(generate_series(1, len(w)-2), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
        ELSE [array_to_string(w, ' ')] END AS s FROM t),
    hs AS (SELECT doc_id, list_transform(s, x -> ${h60("x")} % $P) AS hv FROM sh),
    g AS (SELECT doc_id,
      $sigs
      FROM hs),
    b AS ($bandRows)"""
  }

  private def bandsSqlCte: String = s"WITH ${bandsSqlCtes("documents")}"

  private def minhashBandsDf(s: org.apache.spark.sql.SparkSession, d: String) =
    TextOps.minhashBandTable(Tables.documents(s, d), "doc_id", "text")

  /** MinHash LSH banding (brief: "shingle→minhash→band→bucket"): 3-word
    * shingles → 16 portable-hash permutations → 4 bands × 4 rows → one
    * band_key per (doc, band). The bucket table IS the scale artifact:
    * near-dup candidates are found by shuffling on (band, band_key), not
    * by comparing documents pairwise. */
  val minhashBands = Q("minhash_bands", (s, d) => {
    minhashBandsDf(s, d)
  }, Some(s"""
    $bandsSqlCte
    SELECT doc_id, band, band_key FROM b ORDER BY doc_id, band"""),
    sortCols = Seq("doc_id", "band"))

  /** CANDIDATE near-dup pairs: equi-join of the band table with itself on
    * (band, band_key) — bucket-local, broadcast-free, skew bounded by
    * bucket size. This is the raw LSH primitive (recall stage); nothing
    * downstream drops a document on a candidate alone — see
    * [[minhashPairsVerified]] for the precision stage every dedup path
    * actually consumes. (Random synthetic docs may yield few/zero pairs;
    * the crafted near-dup fixture in TextOpsSpec exercises the positive
    * path.) */
  val minhashPairs = Q("minhash_pairs", (s, d) => {
    // the kp band-key prefix routes minhashCandidatePairs through the
    // generator's first-band form — one emission per pair, no cross-band
    // pair distinct (the oracle's DISTINCT is the same set by the
    // first-band rule: each pair emits exactly at its first colliding band)
    TextOps.minhashCandidatePairs(
      TextOps.minhashBandTable(Tables.documents(s, d), "doc_id", "text",
        keepKeyPrefix = true), "doc_id")
  }, Some(s"""
    $bandsSqlCte
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM b l JOIN b r ON l.band = r.band AND l.band_key = r.band_key
     AND l.doc_id < r.doc_id
    ORDER BY doc_a, doc_b"""),
    sortCols = Seq("doc_a", "doc_b"))

  /** VERIFIED near-dup pairs (VERDICT r06 finding 1): band-colliding
    * candidates gated by minhash-signature agreement ≥ 8/16 (`n_eq/16`
    * estimates Jaccard, so the gate ≈ J ≥ 0.5). Candidates come from
    * the light (id, kp)-only bucket rows — the `minhash_pairs` shape,
    * spill-free through sf100 — and verification joins the barriered
    * (id, sig) frame back per member
    * ([[TextOps.verifiedPairsFromSignatures]]): the signature bytes
    * cross the network exactly once instead of four band copies, and
    * the bucket grouping never sorts signature-wide rows (the round-14
    * structural fix — the previous bucket-carried form's grouping spill
    * was linear in signature bytes and outgrew the measurement box's
    * disk one decade after it outgrew its memory). */
  val minhashPairsVerified = Q("minhash_pairs_verified", (s, d) => {
    TextOps.verifiedPairsFromSignatures(
      TextOps.minhashSignatures(Tables.documents(s, d), "doc_id", "text"), "doc_id")
  }, Some(s"""
    $bandsSqlCte
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
      CAST(${sigEqSql("ga", "gb")} AS INTEGER) AS n_eq
    FROM b l JOIN b r ON l.band = r.band AND l.band_key = r.band_key
     AND l.doc_id < r.doc_id
    JOIN g ga ON ga.doc_id = l.doc_id
    JOIN g gb ON gb.doc_id = r.doc_id
    WHERE ${sigEqSql("ga", "gb")} >= $MinEq
    ORDER BY doc_a, doc_b"""),
    sortCols = Seq("doc_a", "doc_b"))

  /** Estimator calibration for the verified near-dup gate (dedup QA,
    * "measure, don't guess"): for EVERY verified pair, the EXACT
    * 3-shingle-set Jaccard (intersection/union over the distinct hashed
    * shingle sets — the same hashed domain the signatures were built
    * from) next to the signature estimate `n_eq/16`. The 8/16 threshold
    * claims ≈ J ≥ 0.5; this row shows, per pair, what the estimate said
    * and what the truth is, so the threshold is audited by the oracle
    * gate itself rather than asserted.
    *
    * Scale shape: exact Jaccard is only ever computed for the BOUNDED
    * verified-pair set (never all-pairs): the pair frame joins the
    * per-doc distinct-shingle frame on the high-cardinality doc key
    * (AQE broadcasts the small pair side), and the intersection count is
    * an equi-join on (doc pair, shingle hash). */
  val pairJaccard = Q("pair_jaccard", (s, d) =>
    TextOps.pairJaccard(Tables.documents(s, d), "doc_id", "text"),
    Some(s"""
    WITH ${bandsSqlCtes("documents")},
    pairs AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        CAST(${sigEqSql("ga", "gb")} AS INTEGER) AS n_eq
      FROM b l JOIN b r ON l.band = r.band AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id
      JOIN g ga ON ga.doc_id = l.doc_id
      JOIN g gb ON gb.doc_id = r.doc_id
      WHERE ${sigEqSql("ga", "gb")} >= $MinEq),
    du AS (SELECT doc_id, unnest(list_distinct(hv)) AS gh FROM hs),
    sz AS (SELECT doc_id, count(*) AS n FROM du GROUP BY 1),
    it AS (SELECT p.doc_a, p.doc_b, count(*) AS inter
      FROM pairs p
      JOIN du a ON a.doc_id = p.doc_a
      JOIN du b2 ON b2.doc_id = p.doc_b AND b2.gh = a.gh
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.n_eq,
      CAST(p.n_eq AS DOUBLE) / ${TextOps.minhashA.size} AS est_jaccard,
      CAST(COALESCE(it.inter, 0) AS BIGINT) AS n_inter,
      CAST(sa.n + sb.n - COALESCE(it.inter, 0) AS BIGINT) AS n_union,
      CAST(COALESCE(it.inter, 0) AS DOUBLE)
        / (sa.n + sb.n - COALESCE(it.inter, 0)) AS exact_jaccard
    FROM pairs p
    LEFT JOIN it ON it.doc_a = p.doc_a AND it.doc_b = p.doc_b
    JOIN sz sa ON sa.doc_id = p.doc_a
    JOIN sz sb ON sb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b"""),
    sortCols = Seq("doc_a", "doc_b"))

  /** The recursive-closure oracle SQL for duplicate clusters, shared by
    * `dup_clusters` / `corpus_dedup`: MinHash bands → candidate pairs →
    * in-bucket signature verification (agreement ≥ 8/16 — candidates are
    * only CANDIDATES; see [[TextOps.verifiedCandidatePairs]]) → transitive
    * closure (DuckDB recursive CTE; graph = the bounded pair set, so the
    * quadratic closure is oracle-only, never the Spark plan) → per-node
    * min label. */
  private def clustersSqlCtes: String = s"""${bandsSqlCtes("documents")},
    pairs AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM b l JOIN b r ON l.band = r.band AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id
      JOIN g ga ON ga.doc_id = l.doc_id
      JOIN g gb ON gb.doc_id = r.doc_id
      WHERE ${sigEqSql("ga", "gb")} >= $MinEq),
    sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(id, lab) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.id, s.v FROM reach r JOIN sym s ON s.u = r.lab),
    cc AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id)"""

  /** Near-dup CLUSTERS (dedup stage 3): candidate pairs only say "a≈b";
    * one-keeper-per-group dedup needs the transitive closure (a≈b, b≈c ⇒
    * {a,b,c} one cluster). [[Components.connectedComponents]] computes it
    * distributed (min-label + pointer jumping, O(log n) label-join rounds);
    * cluster_id = min doc_id of the cluster, deterministic regardless of
    * partitioning. Output: every doc that has at least one near-dup. */
  val dupClusters = Q("dup_clusters", (s, d) => {
    val pairs = TextOps.verifiedCandidatePairs(Tables.documents(s, d), "doc_id", "text")
    Components.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
  }, Some(s"""
    WITH RECURSIVE $clustersSqlCtes
    SELECT id AS doc_id, comp AS cluster_id FROM cc ORDER BY doc_id"""),
    sortCols = Seq("doc_id"))

  /** End-to-end near-dup corpus dedup: drop every cluster member except
    * the canonical keeper (min doc_id), keep all un-clustered docs. The
    * drop list is CORPUS-PROPORTIONAL — real web corpora dedup away
    * 20–50% of documents — so it carries NO static broadcast hint
    * (VERDICT r07 finding 2: at 1e10 docs the hint forces ~80 GB through
    * the driver). AQE broadcasts only when the measured size allows;
    * otherwise the plan degrades to a shuffled sort-merge anti-join where
    * the drop side ships bare ids and the corpus side the 3-column
    * projection — never the body. */
  val corpusDedup = Q("corpus_dedup", (s, d) => {
    import s.implicits._
    val pairs = TextOps.verifiedCandidatePairs(Tables.documents(s, d), "doc_id", "text")
    val cc = Components.connectedComponents(pairs, "doc_a", "doc_b")
    val drop = cc.filter($"id" =!= $"comp").select($"id".as("doc_id"))
    Tables.documents(s, d).join(drop, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"source", $"n_chars")
  }, Some(s"""
    WITH RECURSIVE $clustersSqlCtes
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> comp)
    ORDER BY doc_id"""),
    sortCols = Seq("doc_id"))

  /** Deterministic train/val/test split: bucket = portable hash of a
    * salted doc key, mod 100; 80/10/10 by bucket range. Pure narrow
    * map — no shuffle, no RNG state — so the assignment is reproducible
    * run-to-run, cluster-to-cluster, and engine-to-engine (the property
    * that matters: retraining months later must regenerate the SAME
    * split, or eval contaminates). */
  val trainSplit = Q("train_split", (s, d) => {
    import s.implicits._
    val bucket = pmod(
      hash60(concat(lit("split:"), $"doc_id".cast("string"))), lit(100L))
    Tables.documents(s, d).select($"doc_id", bucket.as("bucket"),
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        .as("split"))
  }, Some(s"""
    WITH h AS (SELECT doc_id,
        ${h60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents)
    SELECT doc_id, bucket,
      CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
           ELSE 'test' END AS split
    FROM h ORDER BY doc_id"""),
    sortCols = Seq("doc_id"))

  /** Documents-per-segment granule for the two-phase distributed scans
    * below (a power of two so the segment id is an exact `shiftright`).
    * Bounds every row-level window partition to ≤ this many rows: the
    * per-task sort/scan cost is O(SegSize), independent of source size.
    *
    * Sizing rule: the SEGMENT frame (one row per segment) still crosses
    * a per-source window, so both tiers must fit a task — segment size s
    * bounds the row tier at s and the segment tier at n/s; s ≈ √n
    * balances them (s = 2^20 handles 2^40 docs per source). 2^6 is sized
    * to the test fixtures so the metric specs exercise real multi-segment
    * distributions; production callers pass a bigger `segShift` to
    * [[capPerSource]]/[[packIntoBins]] — the OUTPUT is identical for any
    * granule (oracle-pinned), only the task bounds move. */
  val SegSize = 64
  private val SegShift = 6 // log2(SegSize)

  /** Per-source document cap (corpus balancing): keep at most N docs per
    * source so no single domain dominates the training mix.
    *
    * VERDICT r06 finding 3: `row_number` over
    * `Window.partitionBy(source)` makes ONE task sort and scan an entire
    * source — a straight scale-killer when a handful of sources hold
    * 100 TB. Rewritten as the classic two-phase distributed scan:
    *  1. segment rows by doc_id range (`seg = doc_id >> 6` — monotone in
    *     the ordering key, so (seg, doc_id) order ≡ doc_id order);
    *  2. count per (source, seg) — an ordinary partial-agg shuffle — and
    *     turn the counts into cumulative per-segment offsets with a
    *     window over the SEGMENT frame (rows = #segments, not #docs);
    *  3. prune: segments whose offset already ≥ N contribute nothing and
    *     never join (at scale, all but the first few segments per source
    *     are dropped before touching a row);
    *  4. rn = segment offset + row_number within the ≤[[SegSize]]-row
    *     (source, seg) window — every row-level sort is bounded.
    * Bit-identical to the single-window form (exact integer arithmetic,
    * same total order); ScaleTechniquesSpec pins both the equality and
    * the bounded max-task property. (For rank FILTERS specifically,
    * Spark's InferWindowGroupLimit mitigates the naive form with a
    * map-side top-k — but cap×#map-tasks rows still meet one reducer,
    * and the running-sum sibling [[packSequences]] gets no such rescue;
    * the two-phase shape is the one that generalizes.) */
  val perSourceCap = Q("per_source_cap", (s, d) => {
    capPerSource(Tables.documents(s, d), 30)
  }, Some("""
    SELECT doc_id, source, rn FROM (
      SELECT doc_id, source,
        CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INTEGER) AS rn
      FROM documents)
    WHERE rn <= 30 ORDER BY source, doc_id"""),
    sortCols = Seq("source", "doc_id"))

  /** Token-budget subsampling: keep docs per source, in doc_id order,
    * until the source's cumulative TOKEN count reaches `budget` — the
    * form mixture specs actually prescribe (token budgets, not doc
    * counts; a doc-count cap over-serves sources with long documents).
    * Keep rule: a doc survives iff the tokens BEFORE it are under
    * budget, so the boundary doc that crosses the line is included —
    * every source with any data gets ≥ 1 doc.
    *
    * Same two-phase prefix-sum shape as [[capPerSource]] (segment token
    * subtotals → cumulative offsets → segment-local running sum), so no
    * window ever spans a whole source and segments entirely past the
    * budget are pruned before the row-level pass. */
  val tokenBudget = Q("token_budget", (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"source", size(TextOps.tokens($"text")).as("n_tokens"))
    capPerSourceTokens(docs, budget = 800L)
  }, Some("""
    WITH t AS (SELECT doc_id, source,
        CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tokens
      FROM documents),
    c AS (SELECT doc_id, source, n_tokens,
        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      FROM t)
    SELECT doc_id, source, n_tokens, cum_before
    FROM c WHERE cum_before < 800 ORDER BY source, doc_id"""),
    sortCols = Seq("source", "doc_id"))

  /** Two-phase engine of [[tokenBudget]]: input (doc_id, source,
    * n_tokens), output the surviving docs with their pre-doc cumulative
    * token count. Granule-invariant like the other two-phase scans. */
  def capPerSourceTokens(docs: org.apache.spark.sql.DataFrame, budget: Long,
      segShift: Int = SegShift): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("source"), col("n_tokens"),
      shiftright(col("doc_id"), segShift).as("seg"))
    val wSeg = Window.partitionBy(col("source")).orderBy(col("seg"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("source"), col("seg"))
      .agg(sum(col("n_tokens")).as("seg_n"))
      .withColumn("seg_off", coalesce(sum(col("seg_n")).over(wSeg), lit(0L)))
      .filter(col("seg_off") < budget) // segment starts past budget: prune it whole
      .select(col("source"), col("seg"), col("seg_off"))
    val wLocal = Window.partitionBy(col("source"), col("seg")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets), Seq("source", "seg"))
      .withColumn("cum_before",
        col("seg_off") + coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_before"))
  }

  /** The two-phase cap (see [[perSourceCap]]), reusable: at most `cap`
    * docs per source in doc_id order, emitting (doc_id, source, rn).
    * `segShift` picks the segment granule (2^segShift docs) — see the
    * [[SegSize]] sizing rule; results are granule-invariant. */
  def capPerSource(docs: org.apache.spark.sql.DataFrame, cap: Int,
      segShift: Int = SegShift): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("source"),
      shiftright(col("doc_id"), segShift).as("seg"))
    val wSeg = Window.partitionBy(col("source")).orderBy(col("seg"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("source"), col("seg"))
      .agg(count(lit(1)).as("seg_n"))
      .withColumn("seg_off", coalesce(sum(col("seg_n")).over(wSeg), lit(0L)))
      .filter(col("seg_off") < cap) // segment starts past the cap: prune whole segment
      .select(col("source"), col("seg"), col("seg_off"))
    val wLocal = Window.partitionBy(col("source"), col("seg")).orderBy(col("doc_id"))
    base.join(broadcast(offsets), Seq("source", "seg"))
      .withColumn("rn", (col("seg_off") + row_number().over(wLocal)).cast("int"))
      .filter(col("rn") <= cap)
      .select(col("doc_id"), col("source"), col("rn"))
  }

  /** Duplicate-cluster size histogram (dedup QA: "how much of the corpus
    * is duplicated, in how big clumps?") — aggregate the PERSISTED
    * labeling twice: members per cluster, then clusters per size. Both
    * shuffles carry only (id, count) pairs; the corpus is never touched.
    * The sudden appearance of large clusters is the canonical signal of a
    * scraper loop or template flood upstream. */
  val clusterSizes = Q("cluster_sizes", (s, d) => {
    import s.implicits._
    s.table(dedupLabels(s, d))
      .groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
  }, Some(s"""
    WITH RECURSIVE $clustersSqlCtes,
    sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM cc GROUP BY comp)
    SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes
    GROUP BY cluster_size ORDER BY cluster_size"""),
    sortCols = Seq("cluster_size"))

  /** [[corpusDedup]] from the PERSISTED labeling (the index analog of
    * `ivf_knn` vs `ivf_probe`): the clustering is read from the build-once
    * parquet artifact instead of re-derived per query, so the per-query
    * cost is one anti-join over the corpus — the shape every downstream
    * consumer of a dedup labeling actually runs. Like [[corpusDedup]],
    * the drop list is corpus-proportional, so NO static broadcast hint
    * (VERDICT r07 finding 2): the planner/AQE picks broadcast from the
    * artifact's measured size, and above the threshold the plan is a
    * sort-merge anti-join where the labels side — BUCKETED on doc_id at
    * build time — never shuffles at all; only the corpus's 3-column
    * projection pays the exchange. Same oracle as `corpus_dedup`: the
    * persisted labels must reproduce the inline clustering exactly. */
  val corpusDedupProbe = Q("corpus_dedup_probe", (s, d) => {
    import s.implicits._
    val labels = s.table(dedupLabels(s, d))
    val drop = labels.filter($"doc_id" =!= $"cluster_id").select($"doc_id")
    Tables.documents(s, d).join(drop, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"source", $"n_chars")
  }, Some(s"""
    WITH RECURSIVE $clustersSqlCtes
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> comp)
    ORDER BY doc_id"""),
    sortCols = Seq("doc_id"))

  /** Incremental dedup — the production flow: dedup a NEW batch against
    * the already-landed corpus, not the corpus against itself. Two gates,
    * both bounded by the batch (never all-pairs, never corpus×corpus):
    * exact = anti-join of batch content hashes against the corpus hash
    * set; near = a batch doc is dropped only when a corpus doc shares a
    * MinHash (band, band_key) bucket AND its signature agrees on ≥ 8/16
    * components (VERDICT r06 finding 1: a bare bucket collision is
    * precision-losing by design — dropping on it silently deletes
    * training data; the agreement fraction estimates Jaccard, so the
    * gate ≈ J ≥ 0.5). The corpus side of both gates is the BUCKETED
    * build-once index ([[graft.sources.DedupIndex]]): hash set bucketed
    * on `h`, band table bucketed on (band, band_key). The batch — the
    * genuinely small side of the daily flow — shuffles into the bucket
    * layout and sort-merge anti/semi joins; the corpus index crosses NO
    * exchange and NO broadcast (VERDICT r07 finding 1: the previous plan
    * broadcast the corpus hash set and band table, which at 100 TB are
    * billions of 32 B hashes and 4× corpus rows of 128 B signatures —
    * unbounded build sides that also materialize on the driver).
    * PlanSpec pins the hint-free plan; ScaleTechniquesSpec measures the
    * bucketed anti-join. Here doc_id < [[CorpusBoundaryId]] stands in
    * for the landed corpus and the rest for the arriving batch; the
    * boundary-spanning fixture guard runs once per session in
    * [[FixtureGuards]], not here (VERDICT r07 finding 4). */
  private lazy val incrementalDedupSql: String = s"""
    WITH ${bandsSqlCtes("documents")},
    corpus_h AS (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id < $CorpusBoundaryId),
    batch AS (SELECT doc_id, source, sha256(text) AS h FROM documents WHERE doc_id >= $CorpusBoundaryId),
    exact_new AS (SELECT doc_id, source FROM batch WHERE h NOT IN (SELECT h FROM corpus_h)),
    near_dup AS (SELECT DISTINCT nb.doc_id FROM b nb
                 JOIN b cb ON nb.band = cb.band AND nb.band_key = cb.band_key
                  AND cb.doc_id < $CorpusBoundaryId
                 JOIN g ga ON ga.doc_id = nb.doc_id
                 JOIN g gc ON gc.doc_id = cb.doc_id
                 WHERE nb.doc_id >= $CorpusBoundaryId
                   AND ${sigEqSql("ga", "gc")} >= $MinEq)
    SELECT doc_id, source FROM exact_new
    WHERE doc_id NOT IN (SELECT doc_id FROM near_dup)
    ORDER BY doc_id"""

  val incrementalDedup = Q("incremental_dedup", (s, d) => {
    import s.implicits._
    val batchDocs = Tables.documents(s, d).filter($"doc_id" >= CorpusBoundaryId)
      .select($"doc_id", $"source", $"text")
    graft.sources.DedupIndex.dedupBatch(batchDocs,
        graft.sources.DedupIndex.corpusHashes(s, d, CorpusBoundaryId),
        graft.sources.DedupIndex.corpusBands(s, d, CorpusBoundaryId))
      .select($"doc_id", $"source")
  }, Some(incrementalDedupSql),
    sortCols = Seq("doc_id"))

  /** [[incrementalDedup]] with the Bloom pre-gate
    * ([[graft.sources.DedupIndex.dedupBatchBloom]]): a 10-bits/doc
    * sharded Bloom sidecar probes each batch row first; rows it rejects
    * are provably new (Bloom filters have no false negatives) and skip
    * the exact anti-join entirely, so only true duplicates + ~1% false
    * positives shuffle into the bucketed corpus probe. SAME oracle SQL
    * as `incremental_dedup` — the filter routes rows, it never decides
    * them, so the output is bit-identical by construction and the
    * oracle proves it. The sidecar is corpus-proportional but ~25×
    * smaller than the hash table; it is a plain bucket-keyed table (no
    * broadcast hint — AQE broadcasts it while small, shuffle-joins the
    * shards once it is not). */
  val incrementalDedupBloom = Q("incremental_dedup_bloom", (s, d) => {
    import s.implicits._
    val batchDocs = Tables.documents(s, d).filter($"doc_id" >= CorpusBoundaryId)
      .select($"doc_id", $"source", $"text")
    graft.sources.DedupIndex.dedupBatchBloom(batchDocs,
        graft.sources.DedupIndex.corpusHashes(s, d, CorpusBoundaryId),
        graft.sources.DedupIndex.corpusBands(s, d, CorpusBoundaryId),
        graft.sources.DedupIndex.corpusBloom(s, d, CorpusBoundaryId),
        // stamp-pinned geometry: the artifact embeds BloomBuckets, so
        // the gate passes the constant instead of count()ing per call
        bloomBuckets = graft.sources.DedupIndex.BloomBuckets)
      .select($"doc_id", $"source")
  }, Some(incrementalDedupSql),
    sortCols = Seq("doc_id"))

  /** [[incrementalDedup]] through the Bloom-DIRECTED partition-pruned
    * exact gate ([[graft.sources.DedupIndex.dedupBatchBloomPruned]]):
    * the corpus hash set lives hive-partitioned on `hb = xxhash64(h) mod
    * 256`, the Bloom sidecar's surviving "maybe" rows name the only
    * partitions the probe opens, and provably-new rows never touch
    * corpus storage at all. SAME oracle SQL as `incremental_dedup` — the
    * layout and the filter route I/O, they never decide rows. At this
    * fixture's regime (batch ≫ corpus) the pruning cannot bite — the
    * row pins CORRECTNESS of the pruned path; the ECONOMICS are measured
    * where they exist, corpus ≫ batch at sf1000 (PERF.md round-14 A/B,
    * `graft.BloomAB`). */
  val incrementalDedupPruned = Q("incremental_dedup_pruned", (s, d) => {
    import s.implicits._
    val batchDocs = Tables.documents(s, d).filter($"doc_id" >= CorpusBoundaryId)
      .select($"doc_id", $"source", $"text")
    graft.sources.DedupIndex.dedupBatchBloomPruned(batchDocs,
        graft.sources.DedupIndex.corpusHashesPruned(s, d, CorpusBoundaryId),
        graft.sources.DedupIndex.corpusBands(s, d, CorpusBoundaryId),
        graft.sources.DedupIndex.corpusBloom(s, d, CorpusBoundaryId),
        bloomBuckets = graft.sources.DedupIndex.BloomBuckets)
      .select($"doc_id", $"source")
  }, Some(incrementalDedupSql),
    sortCols = Seq("doc_id"))

  /** Per-source document-length profile (corpus QA): exact quantiles +
    * max of n_chars per source. Exact `percentile` buffers a per-group
    * value multiset — fine for a bounded source dimension; the 100 TB
    * path for high-cardinality groups is `approx_percentile` (t-digest,
    * mergeable partial aggs), same plan shape, and the oracle contract is
    * what pins the exact variant here. Both engines interpolate at
    * p·(n−1), so doubles match bit-for-bit on integer inputs. */
  val lenQuantiles = Q("len_quantiles", (s, d) => {
    import s.implicits._
    Tables.documents(s, d).groupBy($"source").agg(
      percentile($"n_chars", lit(0.25)).as("p25"),
      percentile($"n_chars", lit(0.5)).as("p50"),
      percentile($"n_chars", lit(0.75)).as("p75"),
      percentile($"n_chars", lit(0.95)).as("p95"),
      max($"n_chars").as("max_chars"))
  }, Some("""
    SELECT source,
      quantile_cont(n_chars, 0.25) AS p25,
      quantile_cont(n_chars, 0.50) AS p50,
      quantile_cont(n_chars, 0.75) AS p75,
      quantile_cont(n_chars, 0.95) AS p95,
      MAX(n_chars) AS max_chars
    FROM documents GROUP BY source ORDER BY source"""),
    sortCols = Seq("source"))

  /** Overlapping token-window chunking (RAG / context-prep staple): slice
    * each document's token sequence into windows of 32 tokens at stride
    * 24 (8-token overlap so no boundary context is lost), emitting
    * (doc_id, chunk_idx, n_tokens, chunk_text). Pure narrow pipeline —
    * tokenize once, posexplode the window starts, `slice` each window —
    * no shuffle anywhere; at 100 TB this runs wherever the documents
    * already live. Short docs yield their single partial window. */
  val chunkDocs = Q("chunk_docs", (s, d) => {
    import s.implicits._
    val win = 32
    val stride = 24
    val toks = TextOps.tokens($"text")
    // window starts: 0, stride, 2·stride, … — the LAST start is the
    // largest multiple of stride still strictly inside the token span
    val nWin = greatest(ceil((size(toks) - lit(win)) / lit(stride.toDouble))
      .cast("int") + 1, lit(1))
    Tables.documents(s, d)
      .select($"doc_id", toks.as("w"), nWin.as("n_win"))
      .select($"doc_id", $"w",
        posexplode(transform(sequence(lit(0), $"n_win" - 1), i => i * stride)))
      .select($"doc_id", $"pos".as("chunk_idx"),
        slice($"w", $"col" + 1, lit(win)).as("cw"))
      .select($"doc_id", $"chunk_idx",
        size($"cw").as("n_tokens"),
        concat_ws(" ", $"cw").as("chunk_text"))
  }, Some(s"""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    n AS (SELECT doc_id, w,
        greatest(CAST(ceil((len(w) - 32) / 24.0) AS INTEGER) + 1, 1) AS n_win
      FROM t),
    starts AS (SELECT doc_id, w, CAST(i AS INTEGER) AS chunk_idx, i * 24 AS st
      FROM n, unnest(generate_series(0, CAST(n_win - 1 AS BIGINT))) AS u(i)),
    c AS (SELECT doc_id, chunk_idx, w[st + 1 : st + 32] AS cw FROM starts)
    SELECT doc_id, chunk_idx,
      CAST(len(cw) AS INTEGER) AS n_tokens,
      array_to_string(cw, ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_idx"""),
    sortCols = Seq("doc_id", "chunk_idx"))

  /** Sequence packing (training-batch prep): group consecutive documents
    * into ~256-token training sequences via a prefix-sum over the running
    * token count — `bin = floor((cumsum − 1) / budget)`. This is the
    * distributed approximation of greedy packing: a document whose tokens
    * cross a bin boundary overflows its bin slightly instead of forcing
    * sequential state.
    *
    * VERDICT r06 finding 2: a running sum over
    * `Window.partitionBy(source).orderBy(doc_id)` is a sequential
    * prefix-sum executed by ONE task per source. Rewritten as the
    * two-phase distributed scan (same shape as [[capPerSource]]):
    * per-(source, seg) token subtotals → cumulative segment offsets via a
    * window over the SEGMENT frame (#segments rows, not #docs) → bounded
    * ≤[[SegSize]]-row local running sums + offset. Exact integer
    * arithmetic in (seg, doc_id) ≡ doc_id order makes the cumulative sums
    * — and therefore the bins — bit-identical to the single-window form
    * (ScaleTechniquesSpec pins equality and the bounded-task property).
    * Output: one row per (source, bin) with doc span and token count. */
  val packSequences = Q("pack_sequences", (s, d) => {
    import s.implicits._
    packIntoBins(Tables.documents(s, d)
      .select($"doc_id", $"source", size(TextOps.tokens($"text")).as("n_tok")), 256)
  }, Some("""
    WITH t AS (SELECT doc_id, source,
        CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tok
      FROM documents),
    b AS (SELECT doc_id, source, n_tok,
        CAST(floor((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - 1) / 256.0) AS INTEGER) AS bin
      FROM t)
    SELECT source, bin, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM b GROUP BY source, bin ORDER BY source, bin"""),
    sortCols = Seq("source", "bin"))

  /** The two-phase packing (see [[packSequences]]), reusable: expects
    * (doc_id, source, n_tok) and emits one row per (source, bin).
    * `segShift` picks the segment granule (2^segShift docs) — see the
    * [[SegSize]] sizing rule; results are granule-invariant. */
  def packIntoBins(docs: org.apache.spark.sql.DataFrame, budget: Int,
      segShift: Int = SegShift): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.withColumn("seg", shiftright(col("doc_id"), segShift))
    val wSeg = Window.partitionBy(col("source")).orderBy(col("seg"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("source"), col("seg"))
      .agg(sum(col("n_tok")).as("seg_tok"))
      .withColumn("seg_off", coalesce(sum(col("seg_tok")).over(wSeg), lit(0L)))
      .select(col("source"), col("seg"), col("seg_off"))
    val wLocal = Window.partitionBy(col("source"), col("seg")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets), Seq("source", "seg"))
      .withColumn("bin",
        floor((col("seg_off") + sum(col("n_tok")).over(wLocal) - 1) / lit(budget))
          .cast("int"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  /** Hybrid retrieval (keyword + vector, the RAG-serving staple): score
    * every document by (a) how many query terms its token set contains
    * and (b) embedding cosine against the query vector (documents and
    * embeddings align on id — the cross-modal join), then re-rank by the
    * weighted blend. Keyword side is a broadcast term array intersect
    * (narrow); vector side is the codegen'd scaled-int cosine against a
    * one-row broadcast query vector; ranking is two-phase top-k. At scale
    * the keyword stage would consult an inverted index and the vector
    * stage an ANN index (`ivf_probe`) — this is the exact blend/re-rank
    * semantics those candidates feed. */
  val hybridSearch = Q("hybrid_search", (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", array_distinct(TextOps.tokens($"text")).as("w"))
    val vecs = Tables.embeddings(s, d)
      .select($"vec_id".as("doc_id"), $"embedding",
        Vectors.normScaled($"embedding").as("n2"))
    val qv = vecs.filter($"doc_id" === HybridQueryVecId)
      .select($"embedding".as("qe"), $"n2".as("qn2"))
    // loud fixture guard (ADVICE r06): an empty query-vector frame would
    // make the crossJoin — and the whole row — vacuously empty
    require(!qv.isEmpty,
      s"hybrid_search: no query vector with vec_id=$HybridQueryVecId in embeddings")
    val termsArr = array(HybridTerms.map(lit(_)): _*)
    val scored = docs.join(vecs, "doc_id").crossJoin(broadcast(qv))
      .filter($"doc_id" =!= HybridQueryVecId)
      .select($"doc_id",
        size(array_intersect($"w", termsArr)).as("kw_hits"),
        Vectors.cosine(Vectors.dotScaled($"embedding", $"qe"), $"n2", $"qn2")
          .as("cos_sim"))
      .withColumn("hybrid",
        $"kw_hits" / lit(HybridTerms.size.toDouble) * 0.5 + $"cos_sim" * 0.5)
    Vectors.topKPerKey(scored.withColumn("qid", lit(0L)), $"qid", $"hybrid", $"doc_id", 20)
      .select($"doc_id", $"kw_hits", $"cos_sim", $"hybrid", $"rank")
  }, Some("""
    WITH docs AS (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS w
                  FROM documents),
    v AS (SELECT vec_id AS doc_id, embedding,
        list_sum(list_transform(embedding,
          x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12))) AS n2
      FROM embeddings),
    qv AS (SELECT embedding AS qe, n2 AS qn2 FROM v WHERE doc_id = 0),
    sc AS (SELECT d.doc_id,
        CAST(len(list_intersect(d.w, ['spark', 'table', 'hash'])) AS INTEGER) AS kw_hits,
        list_sum(list_transform(list_zip(v.embedding, qv.qe),
          p -> round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e12)))
          / sqrt(v.n2 * qv.qn2) AS cos_sim
      FROM docs d JOIN v ON v.doc_id = d.doc_id CROSS JOIN qv
      WHERE d.doc_id <> 0),
    r AS (SELECT doc_id, kw_hits, cos_sim,
        kw_hits / 3.0 * 0.5 + cos_sim * 0.5 AS hybrid,
        CAST(row_number() OVER (ORDER BY kw_hits / 3.0 * 0.5 + cos_sim * 0.5 DESC,
          doc_id) AS INTEGER) AS rank
      FROM sc)
    SELECT doc_id, kw_hits, cos_sim, hybrid, rank FROM r WHERE rank <= 20
    ORDER BY rank"""),
    sortCols = Seq("rank"))

  /** Scale variant of [[lenQuantiles]]: `approx_percentile` (t-digest,
    * mergeable partial aggs, bounded memory per group) instead of the
    * exact value-buffering percentile. No portable oracle (sketch
    * internals differ across engines) → rows-only check; its job is the
    * BENCH row quantifying the exact-percentile tax, next to
    * `q1_agg_fast` and the `*_xx` hash rows. */
  val lenQuantilesApprox = Q("len_quantiles_approx", (s, d) => {
    import s.implicits._
    Tables.documents(s, d).groupBy($"source").agg(
      approx_percentile($"n_chars", lit(0.25), lit(10000)).as("p25"),
      approx_percentile($"n_chars", lit(0.5), lit(10000)).as("p50"),
      approx_percentile($"n_chars", lit(0.75), lit(10000)).as("p75"),
      approx_percentile($"n_chars", lit(0.95), lit(10000)).as("p95"),
      max($"n_chars").as("max_chars"))
  }, None, sortCols = Seq("source"))

  /** Production-hash MinHash variant: IDENTICAL plan to `minhash_bands`,
    * but every hash is native `xxhash64` (whole-stage codegen, no
    * cryptographic digest) instead of the portable md5 the oracle
    * contract requires. No DuckDB twin — xxhash64 isn't reproducible
    * there — so the driver records a rows-only check; its job is the
    * BENCH row that quantifies the md5 tax (PERF.md). */
  val minhashBandsXx = Q("minhash_bands_xx", (s, d) =>
    TextOps.minhashBandTable(Tables.documents(s, d), "doc_id", "text", useXx = true),
    None, sortCols = Seq("doc_id", "band"))

  /** Production-hash SimHash variant of `simhash` — same deal as
    * [[minhashBandsXx]]. */
  val simhashXx = Q("simhash_xx", (s, d) =>
    TextOps.simhashTable(Tables.documents(s, d), "doc_id", "text", useXx = true),
    None, sortCols = Seq("doc_id"))

  /** n-gram (word-set) Jaccard similarity on a bounded candidate window
    * (doc_id < 30 here; at scale the window comes from LSH buckets — this
    * query is the verifier that runs INSIDE a bucket, never all-pairs
    * globally). |A∪B| via |A|+|B|−|A∩B| (DuckDB lacks list_union). */
  val ngramJaccard = Q("ngram_jaccard", (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).filter($"doc_id" < 30)
      .select($"doc_id", array_distinct(TextOps.tokens($"text")).as("w"))
    val l = docs.select($"doc_id".as("doc_a"), $"w".as("wa"))
    val r = docs.select($"doc_id".as("doc_b"), $"w".as("wb"))
    val inter = size(array_intersect($"wa", $"wb"))
    l.join(broadcast(r), $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        (inter.cast("double") / (size($"wa") + size($"wb") - inter)).as("jaccard"))
      .withColumn("is_near_dup", $"jaccard" >= 0.5)
  }, Some("""
    WITH t AS (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS w
               FROM documents WHERE doc_id < 30)
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
      CAST(len(list_intersect(l.w, r.w)) AS DOUBLE)
        / (len(l.w) + len(r.w) - len(list_intersect(l.w, r.w))) AS jaccard,
      (CAST(len(list_intersect(l.w, r.w)) AS DOUBLE)
        / (len(l.w) + len(r.w) - len(list_intersect(l.w, r.w)))) >= 0.5 AS is_near_dup
    FROM t l JOIN t r ON l.doc_id < r.doc_id
    ORDER BY doc_a, doc_b"""),
    sortCols = Seq("doc_a", "doc_b"))

  /** 32-bit SimHash fingerprints (brief: "SimHash") — near-dup docs land
    * within small Hamming distance; single narrow pass, no shuffle. */
  val simhash = Q("simhash", (s, d) => {
    TextOps.simhashTable(Tables.documents(s, d), "doc_id", "text")
  }, Some {
    val terms = (0 until 32).map { j =>
      s"CASE WHEN list_sum(list_transform(hv, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n      + ")
    s"""
    WITH t AS (SELECT doc_id,
        list_transform(string_split(trim(text), ' '), x -> ${h60("x")}) AS hv
      FROM documents)
    SELECT doc_id, $terms AS simhash
    FROM t ORDER BY doc_id"""
  },
    sortCols = Seq("doc_id"))

  /** SimHash-bucketed near-dup pairs: docs sharing the high 16 SimHash
    * bits are candidates; candidates within Hamming distance 8 are
    * near-dups. Same scale shape as MinHash banding — shuffle on the
    * bucket prefix, compare only inside buckets, `bit_count(xor)` is a
    * codegen'd builtin pair (no custom expression needed). */
  val simhashNeardup = Q("simhash_neardup", (s, d) => {
    import s.implicits._
    // single-pass bucket-local pairing (a self-join would compute the
    // SimHash subtree twice — same rationale as minhashCandidatePairs);
    // the i<j expansion + popcount gate runs in the native
    // bucket_hamming_pairs generator (one JVM loop per bucket, no
    // interpreted HOF pair array — see graft.functions.BucketPairs)
    TextOps.simhashTable(Tables.documents(s, d), "doc_id", "text")
      .withColumn("bucket", shiftright($"simhash", 16))
      .groupBy($"bucket")
      .agg(sort_array(collect_list(struct($"doc_id", $"simhash"))).as("ds"))
      .filter(size($"ds") > 1)
      .select(call_function("bucket_hamming_pairs", $"ds", lit(8)))
  }, Some {
    val sim = (0 until 32).map { j =>
      s"CASE WHEN list_sum(list_transform(hv, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""
    WITH t AS (SELECT doc_id,
        list_transform(string_split(trim(text), ' '), x -> ${h60("x")}) AS hv
      FROM documents),
    sh AS (SELECT doc_id, $sim AS simhash FROM t),
    b AS (SELECT doc_id, simhash, simhash >> 16 AS bucket FROM sh)
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
           bit_count(xor(l.simhash, r.simhash)) AS hamming
    FROM b l JOIN b r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    WHERE bit_count(xor(l.simhash, r.simhash)) <= 8
    ORDER BY doc_a, doc_b"""
  },
    sortCols = Seq("doc_a", "doc_b"))

  /** Rolling polynomial document fingerprint (brief: "document
    * fingerprinting (rolling hash)") — order-sensitive, so reordered docs
    * differ where bag-of-words methods collide. */
  val docFingerprint = Q("doc_fingerprint", (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", TextOps.fingerprint(TextOps.tokens($"text")).as("fp"))
  }, Some(s"""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
    SELECT doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT), list_transform(w, x -> ${h60("x")} % $P)),
        (acc, h) -> (acc * 31 + h) % $P) AS fp
    FROM t ORDER BY doc_id"""),
    sortCols = Seq("doc_id"))

  /** Quality scoring (brief: "length/punct/stopword ratios"): per-doc
    * length stats + stopword ratio + an integer quality score (integer
    * scoring keeps the oracle exact; the ratios themselves are
    * deterministic int/int divisions). */
  val textStats = Q("text_stats", (s, d) => {
    import s.implicits._
    val toks = TextOps.tokens($"text")
    val en = TextOps.stopwords.head._2
    Tables.documents(s, d).select(
      $"doc_id",
      length($"text").as("n_chars"),
      size(toks).as("n_words"),
      (aggregate(toks, lit(0L), (a, w) => a + length(w)).cast("double") / size(toks))
        .as("avg_word_len"),
      (size(filter(toks, w => w.isin(en.map(lit(_)): _*))).cast("double") / size(toks))
        .as("stop_ratio"))
      .withColumn("quality",
        ($"n_words" >= 20).cast("int") + ($"stop_ratio" > 0.05).cast("int") +
        ($"avg_word_len" < 8.0).cast("int"))
  }, Some {
    val en = TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""
    WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents),
    s AS (SELECT doc_id,
        length(text) AS n_chars,
        CAST(len(w) AS INTEGER) AS n_words,
        CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS avg_word_len,
        CAST(len(list_filter(w, x -> x IN ($en))) AS DOUBLE) / len(w) AS stop_ratio
      FROM t)
    SELECT doc_id, n_chars, n_words, avg_word_len, stop_ratio,
      CAST(n_words >= 20 AS INTEGER) + CAST(stop_ratio > 0.05 AS INTEGER)
        + CAST(avg_word_len < 8.0 AS INTEGER) AS quality
    FROM s ORDER BY doc_id"""
  },
    sortCols = Seq("doc_id"))

  /** Token counting (brief): whitespace tokens, regex word/punct tokens
    * (the BPE-ish pre-tokenizer split), and the chars/4 LLM estimate. */
  val tokenCount = Q("token_count", (s, d) => {
    import s.implicits._
    Tables.documents(s, d).select(
      $"doc_id",
      size(split(trim($"text"), " ")).as("tok_ws"),
      size(regexp_extract_all($"text", lit("\\w+|[^\\w\\s]"), lit(0))).as("tok_re"),
      ceil(length($"text") / lit(4.0)).cast("long").as("tok_est"))
  }, Some("""
    SELECT doc_id,
      CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS tok_ws,
      CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS tok_re,
      CAST(ceil(length(text) / 4.0) AS BIGINT) AS tok_est
    FROM documents ORDER BY doc_id"""),
    sortCols = Seq("doc_id"))

  /** Stopword-profile language ID (brief: "language-ID (n-gram
    * heuristic)"): per-language stopword hits, arg-max with fixed
    * tie-break; compared against the dataset's `lang` label. */
  /** Per-language stopword-hit score columns (`s_<lang>`) over a split
    * column `w` — shared by the lang_id and training_prep oracles. */
  private def langScoresSql: String = TextOps.stopwords.map { case (lang, ws) =>
    s"len(list_filter(w, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$lang"
  }.mkString(",\n        ")

  /** Arg-max CASE over the `s_<lang>` columns, first-listed tie-break. */
  private def langCaseSql: String = {
    val langs = TextOps.stopwords.map(_._1)
    langs.zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1).map(l => s"s_$lang >= s_$l")
      val conds = (later :+ s"s_$lang > 0").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n        ")
  }

  val langId = Q("lang_id", (s, d) => {
    import s.implicits._
    val toks = TextOps.tokens($"text")
    Tables.documents(s, d)
      .select($"doc_id", TextOps.langId(toks).as("lang_pred"), $"lang")
      .withColumn("matches_label", $"lang_pred" === $"lang")
  }, Some(s"""
    WITH t AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS w FROM documents),
    s AS (SELECT doc_id, lang,
        $langScoresSql
      FROM t)
    SELECT doc_id,
      CASE $langCaseSql ELSE 'und' END AS lang_pred,
      lang,
      (CASE $langCaseSql ELSE 'und' END) = lang AS matches_label
    FROM s ORDER BY doc_id"""),
    sortCols = Seq("doc_id"))

  /** The composed training-data prep chain ([[graft.driver.TrainingPrep]])
    * under the hard oracle gate: quality gate → exact dedup (min-id per
    * sha256) → MinHash-LSH near-dup drop (higher id of each candidate
    * pair) → token/lang/fingerprint stamps, end to end in one DuckDB twin.
    * This is the "switch from the reference and run your real pipeline"
    * row — every stage reuses an operator that is also pinned alone. */
  val trainingPrep = Q("training_prep", (s, d) => {
    import s.implicits._
    graft.driver.TrainingPrep.prepare(Tables.documents(s, d))
      .select($"doc_id", $"n_tokens", $"lang_pred", $"fingerprint")
  }, Some(trainingPrepSql), sortCols = Seq("doc_id"))

  private lazy val trainingPrepSql = s"""
    WITH RECURSIVE t0 AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents),
    q0 AS (SELECT * FROM t0 WHERE len(w) >= 5),
    hsh AS (SELECT doc_id, text, w, sha256(text) AS ch FROM q0),
    kp AS (SELECT ch, min(doc_id) AS keep_id FROM hsh GROUP BY 1),
    e AS (SELECT hsh.doc_id, hsh.text, hsh.w FROM hsh
          JOIN kp ON hsh.ch = kp.ch AND hsh.doc_id = kp.keep_id),
    ${bandsSqlCtes("e")},
    prs AS (SELECT DISTINCT l.doc_id AS u, r.doc_id AS v
            FROM b l JOIN b r ON l.band = r.band AND l.band_key = r.band_key
             AND l.doc_id < r.doc_id
            JOIN g ga ON ga.doc_id = l.doc_id
            JOIN g gb ON gb.doc_id = r.doc_id
            WHERE ${sigEqSql("ga", "gb")} >= $MinEq),
    sym AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
    reach(id, lab) AS (
      SELECT u, u FROM sym
      UNION
      SELECT rc.id, sy.v FROM reach rc JOIN sym sy ON sy.u = rc.lab),
    ccx AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
    drops AS (SELECT id AS doc_id FROM ccx WHERE id <> comp),
    f AS (SELECT e.doc_id, e.w FROM e
          WHERE e.doc_id NOT IN (SELECT doc_id FROM drops)),
    st AS (SELECT doc_id, w,
        $langScoresSql
      FROM f)
    SELECT doc_id,
      CAST(len(w) AS INTEGER) AS n_tokens,
      CASE $langCaseSql ELSE 'und' END AS lang_pred,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT), list_transform(w, x -> ${h60("x")} % $P)),
        (acc, h) -> (acc * 31 + h) % $P) AS fingerprint
    FROM st ORDER BY doc_id"""

  /** Persisted union drop set (exact-dup non-keepers ∪ near-dup cluster
    * non-canonicals over the quality-gated corpus) backing
    * [[trainingPrepProbe]]: [[graft.driver.TrainingPrep.dropSet]] landed
    * bucketed on doc_id under a build-once stamp — the chain's whole
    * labeling cost (signatures, banding, census, connected components)
    * runs once per corpus fingerprint. */
  private def tpDropSet(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val base = graft.sources.BuildOnce.dir("graft_tpdrop",
      graft.sources.BuildOnce.stampOf(s"$d/documents.parquet",
        "tpdrop-v1|minw5|sha256-minkeep|lsh-cc-minEq8"),
      b => graft.sources.ArtifactStore.exists(s"$b/drops/_SUCCESS")) { tmp =>
      val tag = s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
      graft.driver.TrainingPrep.dropSet(Tables.documents(s, d))
        .write.bucketBy(graft.sources.DedupIndex.Buckets, "doc_id").sortBy("doc_id")
        .option("path", s"$tmp/drops").saveAsTable(s"graft_build_tpdrop_$tag")
      s.sql(s"DROP TABLE graft_build_tpdrop_$tag")
    }
    graft.sources.DedupIndex.registerBucketed(s, s"$base/drops",
      "graft_tpdrop_drops", "doc_id BIGINT", Seq("doc_id"))
  }

  /** [[trainingPrep]]'s STANDING-CORPUS form (VERDICT r17 missing #2 —
    * the build/probe split the dedup families already have): the chain's
    * labeling jobs land ONCE as the [[tpDropSet]] artifact; deriving the
    * stamped training set then costs one quality-gated anti-join against
    * a dup-rate-sized id list plus the narrow per-row stamps — the cost
    * a daily "re-cut the training set" run actually pays on a standing
    * corpus. Same oracle as `training_prep` verbatim: the artifact must
    * reproduce the inline chain's result exactly. */
  val trainingPrepProbe = Q("training_prep_probe", (s, d) => {
    import s.implicits._
    val drops = s.table(tpDropSet(s, d))
    val toks = graft.operators.TextOps.tokens($"text")
    // stamp FIRST, anti-join the NARROW stamped rows: the output needs
    // only (id, 3 stamps), so the document text must never cross the
    // join — the first sf1000 run joined text-wide rows and paid for it
    // twice over (unhinted: SMJ sorted the full-text side, 54.3 GB
    // spill / 392 s, r18m/sf1000_training_prep rep 2; hinted
    // SHUFFLE_HASH: the full 10.8 GB text column through the exchange,
    // r18m/sf1000_tpp_shj). Stamping ~dup-rate more docs than survive
    // is a few % of kernel CPU; the join then moves ~30 B rows. The
    // hint stays (r07 rule: no broadcast hint for corpus-derived sets;
    // the ~2.4 M-id drop set is over the AQE broadcast threshold at the
    // fourth decade, and an unhinted plan would sort even the narrow
    // side).
    graft.driver.TrainingPrep.qualityGate(Tables.documents(s, d))
      .select($"doc_id", size(toks).as("n_tokens"),
        graft.operators.TextOps.langId(toks).as("lang_pred"),
        graft.operators.TextOps.fingerprint(toks).as("fingerprint"))
      .join(drops.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
  }, Some(trainingPrepSql), sortCols = Seq("doc_id"))

  private val knnSqlBody = """
    WITH v AS (SELECT vec_id, label, embedding,
        list_sum(list_transform(embedding,
          x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12))) AS n2
      FROM embeddings),
    q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe, n2 AS qn2
      FROM v WHERE vec_id < 10),
    s AS (SELECT q.qid, v.vec_id AS cid,
        list_sum(list_transform(list_zip(q.qe, v.embedding),
          p -> round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e12))) AS dot,
        q.qn2 AS qn2, v.n2 AS cn2
      FROM q JOIN v ON v.vec_id <> q.qid%BUCKET%),
    s2 AS (SELECT qid, cid, dot / sqrt(qn2 * cn2) AS cos_sim FROM s),
    r AS (SELECT qid, cid, cos_sim,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid)
          AS INTEGER) AS rank
      FROM s2)
    SELECT qid, cid, rank, cos_sim FROM r WHERE rank <= 10
    ORDER BY qid, rank"""

  private def knnDf(s: org.apache.spark.sql.SparkSession, d: String, bucketed: Boolean) = {
    import s.implicits._
    val v = Tables.embeddings(s, d)
      .select($"vec_id", $"label", $"embedding", Vectors.normScaled($"embedding").as("n2"))
    val q = v.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"label".as("qlabel"), $"embedding".as("qe"), $"n2".as("qn2"))
    val cond =
      if (bucketed) $"vec_id" =!= $"qid" && $"label" === $"qlabel"
      else $"vec_id" =!= $"qid"
    val sims = v.join(broadcast(q), cond)
      .select($"qid", $"vec_id".as("cid"),
        Vectors.cosine(Vectors.dotScaled($"qe", $"embedding"), $"qn2", $"n2").as("cos_sim"))
    // bounded-heap top-k, not the window form: this is THE few-groups ×
    // huge-stream shape (10 query groups × a corpus-sized score stream)
    // where the window's per-partition sort spilled 5.6-6.4 GB per
    // recall audit at 20 M vectors — the heap keeps one 10-slot buffer
    // per (query, partition) and the pass is sort-free at any scale
    Vectors.topKPerKeyAgg(sims, "qid", "cos_sim", "cid", 10)
      .select($"qid", $"cid", $"rank", $"cos_sim")
  }

  /** Brute-force cosine top-10 (brief baseline): query vectors broadcast
    * (tiny side), per-partition partial top-k, then the per-query final
    * rank — no all-to-one shuffle of raw similarity rows at scale. */
  val knnCosine = Q("knn_cosine", (s, d) => knnDf(s, d, bucketed = false),
    Some(knnSqlBody.replace("%BUCKET%", "")),
    sortCols = Seq("qid", "rank"))

  /** Embedding-cosine near-dup detection (brief's fifth dedup mode):
    * bucket-local pairwise cosine with a threshold — the verifier stage of
    * an embedding dedup pipeline, run INSIDE coarse buckets (label =
    * centroid assignment stand-in), never globally all-pairs. τ=0.4 keeps
    * the synthetic corpus (max within-bucket cosine ≈ 0.47) non-trivial;
    * real corpora use ≈0.95. Bounded to a deterministic 1/3 sample: at
    * scale the pair set comes from ANN candidates (`knn_bucketed`), not
    * from exhaustive in-bucket pairing — this query is the verifier that
    * runs on that bounded candidate set.
    *
    * Guarded: [[Vectors.withBucketBound]] fails loudly (in-plan, at
    * execution) when any bucket's density would blow the pair expansion
    * past `spark.graft.neardup.maxBucketRows` — a hot bucket must be an
    * ERROR naming itself, never a silently quadratic stage. The sf10
    * decade fixture (~13 k rows in the densest bucket) sits under the
    * 2^16 default by design; the declared fixture-quadratic growth
    * beyond that is exactly where the guard should start refusing. */
  val embeddingNeardup = Q("embedding_neardup", (s, d) => {
    import s.implicits._
    val v = Vectors.withBucketBound(
      Tables.embeddings(s, d)
        .filter($"vec_id" % 3 === 0)
        .select($"vec_id", $"label", $"embedding",
          Vectors.normScaled($"embedding").as("n2")),
      "label", Vectors.maxBucketRowsFor(s))
    val l = v.select($"label", $"vec_id".as("vec_a"), $"embedding".as("ea"), $"n2".as("na"))
    val r = v.select($"label".as("lb"), $"vec_id".as("vec_b"), $"embedding".as("eb"), $"n2".as("nb"))
    l.join(r, $"label" === $"lb" && $"vec_a" < $"vec_b")
      .select($"label", $"vec_a", $"vec_b",
        Vectors.cosine(Vectors.dotScaled($"ea", $"eb"), $"na", $"nb").as("cos_sim"))
      .filter($"cos_sim" >= 0.4)
  }, Some("""
    WITH v AS (SELECT vec_id, label, embedding,
        list_sum(list_transform(embedding,
          x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12))) AS n2
      FROM embeddings WHERE vec_id % 3 = 0),
    s AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        list_sum(list_transform(list_zip(a.embedding, b.embedding),
          p -> round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e12)))
          / sqrt(a.n2 * b.n2) AS cos_sim
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
    SELECT label, vec_a, vec_b, cos_sim FROM s WHERE cos_sim >= 0.4
    ORDER BY vec_a, vec_b"""),
    sortCols = Seq("vec_a", "vec_b"))

  /** Semantic dedup, SemDeDup-shaped (Abbas et al. 2023, arXiv:2303.09540
    * — cluster the embedding space, then prune near-duplicates INSIDE
    * each cluster): k-means-style centroids ([[Vectors.buildCentroids]],
    * the `ivf_knn` build, bit-reproduced by the oracle), corpus assigned
    * to its nearest centroid, and within each cluster a vector is DROPPED
    * when a lower-id cluster-mate sits above the cosine threshold (the
    * deterministic stand-in for the paper's keep-one-per-ε-ball; τ=0.4
    * drops ~4% of the synthetic corpus — real corpora run ≈0.95).
    * Differs from [[embeddingNeardup]] exactly where SemDeDup differs
    * from plain near-dup: buckets are LEARNED from the data, not given
    * labels, and the output is the per-vector keep/drop verdict (the
    * pruned corpus), not the pair list.
    *
    * Scale shape: the cluster assignment is the PERSISTED `ivf_probe`
    * artifact (round 12 — a standing corpus probes its standing index;
    * `ivf_knn` keeps the build cost visible, and `ivf_probe`'s oracle
    * pins artifact == inline derivation bit-for-bit); in-cluster pairing
    * is guarded by [[Vectors.withBucketBound]] — k must grow with the
    * corpus (the paper runs k ≈ √n) or the guard refuses; past the guard
    * the candidate set comes from ANN (`knn_bucketed`/`quant_rerank`)
    * with this same verdict rule, the route the error message names. */
  val semDedup = Q("semdedup", (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // clusters come from the PERSISTED IVF artifact (`ivf_probe`'s
    // build-once index — identical centroids/assignment by that row's
    // oracle, which reproduces the build bit-for-bit): semantic dedup
    // over a standing corpus probes the standing index, it does not pay
    // a k-means build per run (the build cost stays visible in ivf_knn)
    val assigned = s.read.parquet(s"${ivfIndex(s, d)}/assignments")
    val v = emb.select($"vec_id", $"embedding",
        Vectors.normScaled($"embedding").as("n2"))
      // shuffle_hash: narrow assignment builds, wide embeddings stream
      .join(assigned.hint("shuffle_hash"), "vec_id")
    val guarded = Vectors.withBucketBound(v, "centroid_id",
      Vectors.maxBucketRowsFor(s))
    val l = guarded.select($"centroid_id", $"vec_id".as("vec_a"),
      $"embedding".as("ea"), $"n2".as("na"))
    val r = guarded.select($"centroid_id".as("cb"), $"vec_id".as("vec_b"),
      $"embedding".as("eb"), $"n2".as("nb"))
    val dropped = l.join(r, $"centroid_id" === $"cb" && $"vec_a" < $"vec_b")
      .filter(Vectors.cosine(Vectors.dotScaled($"ea", $"eb"), $"na", $"nb") >= 0.4)
      .select($"vec_b".as("vec_id")).distinct()
    v.select($"vec_id", $"centroid_id")
      .join(dropped.withColumn("_dup", lit(true)), Seq("vec_id"), "left_outer")
      .select($"vec_id", $"centroid_id",
        coalesce($"_dup", lit(false)).as("dropped"))
  }, Some(s"""
    WITH ${ivfSqlCtes(2)},
    sd AS (SELECT ab.vec_id AS vec_b,
        list_sum(list_transform(list_zip(a.e, b.e),
          pp -> round(pp[1] * pp[2] * 1e12))) / sqrt(a.n2 * b.n2) AS cos_sim
      FROM assign1 aa JOIN assign1 ab
        ON aa.centroid_id = ab.centroid_id AND aa.vec_id < ab.vec_id
      JOIN vn a ON a.vec_id = aa.vec_id
      JOIN vn b ON b.vec_id = ab.vec_id),
    dropped AS (SELECT DISTINCT vec_b FROM sd WHERE cos_sim >= 0.4)
    SELECT vn.vec_id, CAST(a1.centroid_id AS INTEGER) AS centroid_id,
           (d.vec_b IS NOT NULL) AS dropped
    FROM vn JOIN assign1 a1 ON a1.vec_id = vn.vec_id
    LEFT JOIN dropped d ON d.vec_b = vn.vec_id
    ORDER BY vn.vec_id"""),
    sortCols = Seq("vec_id"))

  /** The scale path the [[semDedup]] guard's error message routes to,
    * as a catalog artifact: SAME learned clusters, SAME verdict rule
    * (lower-id cluster-mate at cosine ≥ 0.4 drops you), but candidate
    * pairs come from RP-LSH band collisions (the corpus-derived
    * `rplsh_knn` geometry) instead of exhaustive in-cluster pairing —
    * candidate volume scales with collision rate, not cluster-size².
    * Round-16: collisions flow through [[Vectors.bandPairsCapped]] —
    * buckets the geometry split keep exhaustive+multi-probe pairing,
    * tight clusters it cannot split (clone families: irreducible
    * buckets at ANY key width) star to their min-id representative, so
    * the candidate stream is bounded linear in n even on a corpus that
    * is one giant near-dup clique.
    * Oracle-gated (VERDICT r13 #8): the DuckDB twin re-derives the
    * RP-LSH keys from the shared constants ([[rplshKeysSqlCtes]] — the
    * same derivation `rplsh_probe`'s oracle pins equal to the persisted
    * artifact), enumerates the same Hamming-1 probe-mask literals, and
    * replays the centroid gate + cosine verdict, so the ANN verdict set
    * itself is hash-checked. Its RELATION to the exhaustive row stays
    * spec-pinned: LSH recall < 1 means a missed collision is a missed
    * drop, so the output is a certified SUBSET of the exhaustive
    * verdicts (VectorsSpec: `dropped_ann ⊆ dropped_exhaustive`; fixture
    * recall 0.889 with the Hamming-1 multi-probe, 0.476 without, floor
    * 0.8) the way `quant_recall` audits the int8 shortlist.
    *
    * The corpus key table comes from the PERSISTED [[rplshIndex]]
    * artifact at the DEDUP width ([[graft.operators.AnnGeometry
    * .dedupBandBits]] — an all-corpus self-join needs ~constant-size
    * buckets, where the knn probe tolerates 8192-row ones; at the
    * shared 4-bit floor (≤1024 vectors — the verify-scale fixtures)
    * the widths coincide and this row shares `rplsh_probe`'s
    * exact artifact, bit-identical keys by that row's oracle) instead
    * of recomputing the plane signatures inline — the semantic-dedup
    * scale path is also its fast path; the Hamming-1 probe masks stay
    * on the exploded probe side (VERDICT r11 #5). */
  /** [[semDedupAnn]]'s frame, with a regime seam: `repOnlyOverride`
    * forces the Hamming-1 probe regime regardless of corpus size, so
    * the rep-only path (production-reachable only above
    * [[graft.operators.AnnGeometry.RepProbeThresholdRows]] = 2^20
    * vectors) gets a MEASURED recall pin on a spec-scale corpus
    * (VectorsSpec) instead of being trusted by construction. The
    * catalog row always passes None — the contract regime. */
  private[graft] def semDedupAnnFrame(s: org.apache.spark.sql.SparkSession,
      d: String, repOnlyOverride: Option[Boolean] = None):
      org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // same standing artifacts as semdedup: persisted IVF assignment for
    // the cluster gate, persisted RP-LSH keys for the candidate pairs
    val assigned = s.read.parquet(s"${ivfIndex(s, d)}/assignments")
    val v = emb.select($"vec_id", $"embedding",
        Vectors.normScaled($"embedding").as("n2"))
      // shuffle_hash: narrow assignment builds, wide embeddings stream
      .join(assigned.hint("shuffle_hash"), "vec_id")
    // the DEDUP geometry (AnnGeometry.dedupBandBits): an all-corpus
    // self-join needs ~constant-size buckets (64 rows) or base-rate
    // collisions alone are n·bands·masks·bucket pairs — at the knn
    // width's 8192-row target that is ~5e12 pairs at 20 M vectors.
    // At the shared 4-bit floor (≤1024 vectors, incl. the verify
    // fixtures) both widths coincide and this SHARES the knn rows'
    // persisted key artifact (same geometry ⇒ same stamp).
    val dedupBits = graft.operators.AnnGeometry.dedupBandBits(
      graft.operators.AnnGeometry.corpusRows(s, s"$d/embeddings.parquet"))
    val keys = s.read.parquet(s"${rplshIndex(s, d,
      graft.operators.AnnGeometry.Bands * dedupBits,
      graft.operators.AnnGeometry.Bands)}/keys")
    // candidate pairs: exhaustive + Hamming-1 multi-probe within buckets
    // the geometry split (≤ DedupTargetBucketRows), min-id-representative
    // stars for the tight clusters it cannot split — the bounded form of
    // the band self-join (Vectors.bandPairsCapped: the unbounded join
    // was measured at 756 M candidate rows / OOM at sf10, r16m/).
    // Round 17: above AnnGeometry.RepProbeThresholdRows the Hamming-1
    // fan-out (bands·bits·n rows, ~5 GB scratch per million vectors at
    // the fourth decade — PERF.md r16 §9) is emitted per bucket
    // REPRESENTATIVE only (~64× fewer probe rows); the oracle's aprobe
    // CTE replays the same regime rule from count(*)
    val cpairs = Vectors.bandPairsCapped(keys,
      graft.operators.AnnGeometry.probeMasks(dedupBits),
      graft.operators.AnnGeometry.DedupTargetBucketRows,
      repOnlyProbes = repOnlyOverride.getOrElse(
        graft.operators.AnnGeometry.repOnlyProbes(
          graft.operators.AnnGeometry.corpusRows(s, s"$d/embeddings.parquet"))))
    // Verify pass: attach (centroid, embedding, norm) per side, gate on
    // centroid equality + exact cosine. A narrow-first variant (gate
    // ca = cb via 12 B assignment joins BEFORE attaching embeddings)
    // was built and MEASURED SLOWER at sf300 — 27.6 s vs 22.4 s,
    // r17m/sf300_semdedup_ann_gate/ vs _aqeshj/: with the (fixed, §7)
    // AQE SMJ→SHJ conversion the wide attach is already hash-based,
    // so two extra hash joins over the full pair stream cost more than
    // the payload trimming saves. Kept the 2-join shape deliberately.
    val a = v.select($"vec_id".as("vec_a"), $"centroid_id".as("ca"),
      $"embedding".as("ea"), $"n2".as("na"))
    val b = v.select($"vec_id".as("vec_b"), $"centroid_id".as("cb"),
      $"embedding".as("eb"), $"n2".as("nb"))
    val dropped = cpairs.join(a, Seq("vec_a")).join(b, Seq("vec_b"))
      .filter($"ca" === $"cb" &&
        Vectors.cosine(Vectors.dotScaled($"ea", $"eb"), $"na", $"nb") >= 0.4)
      .select($"vec_b".as("vec_id")).distinct()
    v.select($"vec_id", $"centroid_id")
      .join(dropped.withColumn("_dup", lit(true)), Seq("vec_id"), "left_outer")
      .select($"vec_id", $"centroid_id",
        coalesce($"_dup", lit(false)).as("dropped"))
  }

  val semDedupAnn = Q("semdedup_ann",
    (s, d) => semDedupAnnFrame(s, d), Some(s"""
    WITH ${ivfSqlCtes(2)},
    ${rplshKeysSqlCtes("rk_", graft.operators.AnnGeometry.dedupGeomSqlBody)},
    rk_stats AS (
      SELECT band, band_key, count(*) AS n, min(vec_id) AS rep
      FROM rk_keys GROUP BY band, band_key),
    aprobe AS (
      -- regime rule (AnnGeometry.repOnlyProbes): above the threshold,
      -- nonzero (Hamming-1) masks are emitted only by each bucket's
      -- min-id representative; mask 0 always flows for every member.
      -- Emission is smaller-endpoint-oriented (a.vec_a < c.vec_id
      -- below): a rep probe's matches against SMALLER ids are
      -- discarded — the documented rep-only asymmetry
      -- (Vectors.bandPairsCapped's repBothOrientations knob lifts it,
      -- at a measured ~2x Hamming-channel verify cost; the catalog row
      -- keeps the cheap default, which this twin replays).
      SELECT k.vec_id AS vec_a, k.band, xor(k.band_key, m.mask) AS band_key
      FROM rk_keys k
      JOIN rk_stats s ON s.band = k.band AND s.band_key = k.band_key
      CROSS JOIN rk_masks m
      WHERE m.mask = 0
         OR NOT ${graft.operators.AnnGeometry.repOnlySql("embeddings")}
         OR k.vec_id = s.rep),
    cpairs AS (
      SELECT DISTINCT vec_a, vec_b FROM (
        SELECT a.vec_a, c.vec_id AS vec_b
        FROM aprobe a
        JOIN rk_keys c ON a.band = c.band AND a.band_key = c.band_key
        JOIN rk_stats s ON s.band = c.band AND s.band_key = c.band_key
        WHERE s.n <= ${graft.operators.AnnGeometry.DedupTargetBucketRows}
          AND a.vec_a < c.vec_id
        UNION ALL
        SELECT s.rep AS vec_a, k.vec_id AS vec_b
        FROM rk_keys k
        JOIN rk_stats s ON s.band = k.band AND s.band_key = k.band_key
        WHERE s.n > ${graft.operators.AnnGeometry.DedupTargetBucketRows}
          AND k.vec_id <> s.rep)),
    sd_ann AS (
      SELECT p.vec_b
      FROM cpairs p
      JOIN assign1 aa ON aa.vec_id = p.vec_a
      JOIN assign1 ab ON ab.vec_id = p.vec_b AND ab.centroid_id = aa.centroid_id
      JOIN vn a ON a.vec_id = p.vec_a
      JOIN vn b ON b.vec_id = p.vec_b
      WHERE list_sum(list_transform(list_zip(a.e, b.e),
          pp -> round(pp[1] * pp[2] * 1e12))) / sqrt(a.n2 * b.n2) >= 0.4),
    ann_dropped AS (SELECT DISTINCT vec_b FROM sd_ann)
    SELECT vn.vec_id, CAST(a1.centroid_id AS INTEGER) AS centroid_id,
           (d.vec_b IS NOT NULL) AS dropped
    FROM vn JOIN assign1 a1 ON a1.vec_id = vn.vec_id
    LEFT JOIN ann_dropped d ON d.vec_b = vn.vec_id
    ORDER BY vn.vec_id"""),
    sortCols = Seq("vec_id"))

  /** Bucketed ANN (brief: "IVF or LSH-bucketed variant as the scale
    * path"): candidates restricted to the query's coarse partition (the
    * `label` column stands in for the IVF centroid assignment — the
    * assignment-by-nearest-centroid step is exercised in VectorsSpec).
    * Probing 1/K of the corpus per query is what survives 100 TB. */
  val knnBucketed = Q("knn_bucketed", (s, d) => knnDf(s, d, bucketed = true),
    Some(knnSqlBody.replace("%BUCKET%", " AND v.label = q.qlabel")),
    sortCols = Seq("qid", "rank"))

  /** IVF ANN end-to-end (the real scale path `knn_bucketed` stands in
    * for): build the coarse index (seed-k centroids + one Lloyd step with
    * deterministic scaled-int means), assign the corpus, probe each
    * query's nprobe=2 nearest buckets, exact cosine top-10 inside them.
    * Every arithmetic step is the scaled-integer form, so the DuckDB twin
    * reproduces centroids, assignments, k-derivation, and similarities
    * bit-for-bit. Probing nprobe=2 of k≈√n cells — ~2√n candidate dots
    * per query — is the 100 TB shape: index build is one (centroid, dim)
    * partial-agg shuffle, search touches only the probed buckets. */
  val ivfKnn = Q("ivf_knn", (s, d) => {
    import s.implicits._
    val v = Tables.embeddings(s, d)
    // k ≈ √n (AnnGeometry contract, round 16): k=8 fixed meant
    // corpus/8-row inverted lists — 2.5 M rows / 13–27 GB spill at the
    // r15 fourth decade. The oracle derives the same k from count(*).
    val n = graft.operators.AnnGeometry.corpusRows(s, s"$d/embeddings.parquet")
    val k = graft.operators.AnnGeometry.ivfK(n)
    // sampled Lloyd + two-level routed assignment (AnnGeometry contract,
    // round 16): the flat build is n·k = n^1.5 at k≈√n — measured
    // 1045.6 s at sf100 before routing (r16m/sf100_subset/).
    // The built centroid table is MATERIALIZED once (round 21, the
    // cc:edges lesson applied to IVF): the downstream plan references it
    // four times — coarse cells (through a filter PUSHED INTO the means
    // aggregate: a plan VARIANT that can never reuse the unfiltered
    // build's exchanges), the fine-cell registry (twice), and query
    // routing — so un-checkpointed, the whole Lloyd build (sample scan,
    // assignment argmax, per-dim means) re-EXECUTED per variant at every
    // scale (r21 JobProfile: 22 AQE stage-jobs, the sums-join stage
    // visibly repeated). k ≈ √n rows are at most ~10^5 at the fourth
    // decade — a trivially small frame; the persisted-index path
    // (writeIndex/ivfSearchIndexed) already materializes exactly this
    // table as parquet. Values unchanged: same deterministic build,
    // computed exactly once per run, fresh every run.
    val centroids = {
      val c = Vectors.buildCentroids(v, "vec_id", "embedding", k,
        graft.operators.AnnGeometry.lloydSamplePeriod(n, k))
      // restore the caller's label (a traced run's enclosing span), don't clear it
      val outer = s.sparkContext.getLocalProperty("spark.job.description")
      s.sparkContext.setJobDescription("ivf:centroids")
      try c.localCheckpoint()
      finally s.sparkContext.setJobDescription(outer)
    }
    val q = v.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    Vectors.ivfSearch(v, "vec_id", "embedding", centroids, q, "qid", "qe",
      nprobe = 2, k = 10,
      routeCoarseK = graft.operators.AnnGeometry.ivfCoarseK(k))
  }, Some(ivfSql), sortCols = Seq("qid", "rank"))

  /** The production IVF shape: the index (centroids + inverted-list
    * assignment) is BUILT ONCE and persisted as parquet
    * ([[Vectors.writeIndex]]); queries probe it from disk
    * ([[Vectors.ivfSearchIndexed]]) without ever re-assigning the corpus.
    * Identical answers to [[ivfKnn]] (same oracle SQL) — what changes is
    * the cost model: `ivf_knn` pays build+assign+probe every run, this
    * pays probe only once the index exists. The per-rep bench spread shows
    * exactly that (rep 1 builds, later reps probe). */
  private def ivfProbeDf(s: org.apache.spark.sql.SparkSession, d: String,
      nprobe: Int) = {
    import s.implicits._
    val v = Tables.embeddings(s, d)
    val q = v.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    Vectors.ivfSearchIndexed(ivfIndex(s, d), v, "vec_id", "embedding",
      q, "qid", "qe", nprobe = nprobe, k = 10)
  }

  val ivfProbe = Q("ivf_probe", (s, d) => ivfProbeDf(s, d, nprobe = 2),
    Some(ivfSql), sortCols = Seq("qid", "rank"))

  /** Random-hyperplane LSH ANN (the brief's "LSH-bucketed variant",
    * completing the similarity-search family next to IVF): deterministic
    * sign-bit planes banded into 4 bands at the corpus-derived key width
    * ([[graft.operators.AnnGeometry]] — 4 bits/16 planes on the small
    * fixtures, growing with log2(corpus); measured recall@10 of 4×4 vs
    * 2×4 banding on the synthetic fixture: 0.40 vs 0.27, see
    * `rplsh_recall`; near-uniform random embeddings are LSH's worst
    * case, so this is the honest floor, not the headline) ([[Vectors.rpLshBands]]); candidates =
    * corpus vectors sharing ANY band key with the query (OR-amplified);
    * exact scaled-int cosine top-10 inside the candidate set. Unlike
    * `knn_bucketed` (whose bucket is the `label` stand-in), the bucket
    * here is DERIVED from the vectors themselves, and the whole pipeline —
    * planes, bits, band keys, candidates, cosines — has a bit-exact DuckDB
    * twin. Scale: one (id, plane) partial-agg shuffle for signatures, an
    * equi-join on (band, band_key) for candidates (never all-pairs),
    * broadcast query side, two-phase top-k. */
  /** The rplsh pipeline as a frame builder, shared by `rplsh_knn` and
    * `rplsh_recall`. */
  /** The catalog's RP-LSH geometry for corpus `$d/embeddings.parquet`:
    * DERIVED from corpus size by the [[graft.operators.AnnGeometry]]
    * contract (band-key bits = log2(corpus / target-bucket), floored at
    * the 16/4 small-corpus geometry) — since round 16 this is the
    * REACHABLE path, not a bench knob: the r15 fourth decade measured
    * the fixed 16/4 default at 583 s / 175 GB spill vs 35.4 s / 7.9 GB
    * at the derived width (`r15m/sf1000_vec/rplsh_kernel_geom48`). The
    * DuckDB twins re-derive the same width from `count(*)` (the `geom`
    * CTE in [[rplshKeysSqlCtes]]), so the oracle rows stay green at ANY
    * corpus size. `SPARK_GRAFT_RPLSH_GEOM=planes,bands` remains as an
    * EXPERIMENT override for off-contract sweeps (Verify never sets it;
    * the persisted artifact ignores it — its stamp pins the contract
    * geometry). */
  private def rplshGeomFor(s: org.apache.spark.sql.SparkSession,
      d: String): (Int, Int) =
    sys.env.get("SPARK_GRAFT_RPLSH_GEOM").map { g =>
      val parts = g.split(",").map(_.trim.toInt)
      (parts(0), parts(1))
    }.getOrElse {
      val n = graft.operators.AnnGeometry.corpusRows(s, s"$d/embeddings.parquet")
      (graft.operators.AnnGeometry.planes(n), graft.operators.AnnGeometry.Bands)
    }

  private def rplshKnnDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val (planes, bands) = rplshGeomFor(s, d)
    rplshKnnFrom(s, d,
      Vectors.rpLshBands(Tables.embeddings(s, d), "vec_id", "embedding",
        planes = planes, bands = bands),
      perBand = planes / bands)
  }

  /** The rplsh probe pipeline over ANY key table (freshly derived for
    * `rplsh_knn`, the persisted artifact for `rplsh_probe`). */
  private def rplshKnnFrom(s: org.apache.spark.sql.SparkSession, d: String,
      keys: org.apache.spark.sql.DataFrame, perBand: Int) = {
    import s.implicits._
    val masks = graft.operators.AnnGeometry.probeMasks(perBand)
    val v = Tables.embeddings(s, d)
    val qKeys = keys.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"band",
        explode(array(masks.map(lit(_)): _*)).as("mask"), $"band_key")
      .select($"qid", $"band", $"band_key".bitwiseXOR($"mask").as("band_key"))
    val cand = keys.join(broadcast(qKeys), Seq("band", "band_key"))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cand_id")).distinct()
    val emb = v.select($"vec_id", $"embedding", Vectors.normScaled($"embedding").as("n2"))
    val qEmb = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"n2".as("qn2"))
    val sims = cand
      .join(emb, $"cand_id" === emb("vec_id"))
      .join(broadcast(qEmb), Seq("qid"))
      .select($"qid", $"cand_id",
        Vectors.cosine(Vectors.dotScaled($"qe", $"embedding"), $"qn2", $"n2").as("cos_sim"))
    Vectors.topKPerKey(sims, $"qid", $"cos_sim", $"cand_id", 10)
      .select($"qid", $"cand_id", $"rank", $"cos_sim")
  }

  val rplshKnn = Q("rplsh_knn", (s, d) => rplshKnnDf(s, d), Some(s"""
    WITH $rplshSqlCtes
    SELECT qid, cand_id, rank, cos_sim FROM r WHERE rank <= 10
    ORDER BY qid, rank"""),
    sortCols = Seq("qid", "rank"))

  /** Persisted RP-LSH key table — built at most once per embeddings
    * fingerprint, like the IVF index and the dedup labeling. Built at
    * the CONTRACT geometry (never the experiment override), and the
    * stamp carries that geometry: a corpus whose derived width differs
    * routes probes to a fresh artifact instead of silently serving keys
    * of the wrong width. */
  private def rplshIndex(s: org.apache.spark.sql.SparkSession, d: String,
      planes: Int, bands: Int): String =
    graft.sources.BuildOnce.dir("graft_rplsh",
      graft.sources.BuildOnce.stampOf(s"$d/embeddings.parquet",
        s"rplsh-v2|planes=$planes|bands=$bands"),
      base => graft.sources.ArtifactStore.exists(s"$base/keys/_SUCCESS")) { tmp =>
      Vectors.rpLshBands(Tables.embeddings(s, d), "vec_id", "embedding",
        planes = planes, bands = bands)
        .write.mode("overwrite").parquet(s"$tmp/keys")
    }

  /** [[rplshKnn]] from the PERSISTED key table (the `ivf_probe` analog,
    * completing the build/probe split for BOTH ANN families): the
    * per-query cost is bucket probes + in-candidate exact cosines — the
    * plane signatures are never recomputed (PlanSpec pins the absence
    * of the signature build). Same oracle as `rplsh_knn`: the artifact
    * must reproduce the inline derivation exactly. The probe masks are
    * sized to the CONTRACT width the artifact was built at. */
  val rplshProbe = Q("rplsh_probe", (s, d) => {
    val bits = graft.operators.AnnGeometry.bandBits(
      graft.operators.AnnGeometry.corpusRows(s, s"$d/embeddings.parquet"))
    rplshKnnFrom(s, d,
      s.read.parquet(s"${rplshIndex(s, d,
        graft.operators.AnnGeometry.Bands * bits,
        graft.operators.AnnGeometry.Bands)}/keys"),
      perBand = bits)
  },
    Some(s"""
    WITH $rplshSqlCtes
    SELECT qid, cand_id, rank, cos_sim FROM r WHERE rank <= 10
    ORDER BY qid, rank"""),
    sortCols = Seq("qid", "rank"))

  /** The RP-LSH KEY-derivation CTEs (geom → dims → contrib → bits →
    * keys, plus the `masks` probe list), name-prefixed so composites
    * that also splice the ivf chain (which has its own `dims`) can
    * carry both without collisions. This is the "shared constants" twin
    * the `semdedup_ann` oracle re-derives keys from: same plane-sign
    * hash (md5 60-bit), same 1e7 scaling — and since round 16 the same
    * corpus-derived GEOMETRY ([[graft.operators.AnnGeometry]]): the
    * `geom` CTE recomputes band-key bits from `count(*)` with the
    * exact-integer formula the Spark side uses, so the twin follows the
    * catalog to ANY width — `rplsh_probe`'s oracle pins this derivation
    * equal to the persisted key artifact bit-for-bit. */
  private def rplshKeysSqlCtes(pfx: String,
      geomBody: String => String =
        graft.operators.AnnGeometry.geomSqlBody): String = s"""${pfx}geom AS (${
      geomBody("embeddings")}),
    ${pfx}masks AS (${graft.operators.AnnGeometry.masksSqlBody(s"${pfx}geom")}),
    ${pfx}dims AS (
      SELECT vec_id, unnest(embedding) AS x, unnest(range(len(embedding))) AS dim
      FROM embeddings),
    ${pfx}contrib AS (
      SELECT d.vec_id, p.plane,
        CASE WHEN (CAST(('0x' || substr(md5('rp' || p.plane || ':' || d.dim), 1, 15)) AS BIGINT) % 2) = 0
             THEN CAST(round(CAST(d.x AS DOUBLE) * 1e7) AS BIGINT)
             ELSE -CAST(round(CAST(d.x AS DOUBLE) * 1e7) AS BIGINT) END AS sx
      FROM ${pfx}dims d
      CROSS JOIN (SELECT unnest(range(g.planes)) AS plane FROM ${pfx}geom g) p),
    ${pfx}bits AS (
      SELECT vec_id, plane, SUM(sx) > 0 AS bit FROM ${pfx}contrib GROUP BY 1, 2),
    ${pfx}keys AS (
      SELECT vec_id,
             CAST(plane // (SELECT bits FROM ${pfx}geom) AS INTEGER) AS band,
             SUM(CASE WHEN bit
                 THEN CAST(pow(2, plane % (SELECT bits FROM ${pfx}geom)) AS BIGINT)
                 ELSE 0 END) AS band_key
      FROM ${pfx}bits GROUP BY 1, 2)"""

  /** The rplsh oracle's CTE chain (ends in `r` = ranked in-bucket exact
    * cosines), shared by `rplsh_knn` and `rplsh_recall`. */
  private lazy val rplshSqlCtes: String = s"""${rplshKeysSqlCtes("")},
    probes AS (
      SELECT k.vec_id AS qid, k.band, xor(k.band_key, m.mask) AS band_key
      FROM keys k CROSS JOIN masks m
      WHERE k.vec_id < 10),
    cand AS (
      SELECT DISTINCT p.qid, c.vec_id AS cand_id
      FROM probes p JOIN keys c ON p.band = c.band AND p.band_key = c.band_key
      WHERE c.vec_id <> p.qid),
    vn AS (
      SELECT vec_id, embedding,
        list_sum(list_transform(embedding,
          x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12))) AS n2
      FROM embeddings),
    sims AS (
      SELECT cand.qid, cand.cand_id,
        list_sum(list_transform(list_zip(q.embedding, c.embedding),
          p -> round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e12)))
          / sqrt(q.n2 * c.n2) AS cos_sim
      FROM cand
      JOIN vn c ON c.vec_id = cand.cand_id
      JOIN vn q ON q.vec_id = cand.qid),
    r AS (
      SELECT qid, cand_id, cos_sim,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cand_id)
          AS INTEGER) AS rank
      FROM sims)"""

  /** Brute-force top-10 ground-truth CTE chain (prefix `bf_`, collision
    * free against the rplsh/ivf CTE names), ending in `bf_t` =
    * (qid, cid) of the true top-10 per query — the denominator of every
    * recall row. */
  private lazy val bfTruthSqlCtes: String = """bf_v AS (
      SELECT vec_id, embedding,
        list_sum(list_transform(embedding,
          x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12))) AS n2
      FROM embeddings),
    bf_q AS (SELECT vec_id AS qid, embedding AS qe, n2 AS qn2
      FROM bf_v WHERE vec_id < 10),
    bf_s AS (SELECT q.qid, v.vec_id AS cid,
        list_sum(list_transform(list_zip(q.qe, v.embedding),
          p -> round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e12)))
          / sqrt(q.qn2 * v.n2) AS cos_sim
      FROM bf_q q JOIN bf_v v ON v.vec_id <> q.qid),
    bf_r AS (SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank
      FROM bf_s),
    bf_t AS (SELECT qid, cid FROM bf_r WHERE rank <= 10)"""

  /** Recall@10 tail: join an ANN top-10 CTE (`annT`, columns qid/cid)
    * against the brute-force truth `bf_t`, one row per query. */
  private def recallSqlTail(annT: String): String = s"""
    hits AS (SELECT b.qid, COUNT(*) AS n_hits
             FROM bf_t b JOIN $annT a ON a.qid = b.qid AND a.cid = b.cid
             GROUP BY b.qid)
    SELECT q.qid AS qid, COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
           COALESCE(h.n_hits, CAST(0 AS BIGINT)) / 10.0 AS recall_at_10
    FROM (SELECT DISTINCT qid FROM bf_t) q LEFT JOIN hits h ON h.qid = q.qid
    ORDER BY q.qid"""

  /** Recall@10 as a DataFrame: ANN results vs the brute-force truth.
    * The truth frame is consumed TWICE (the hits semi-join + the
    * all-queries left side), so it gets a reuse BARRIER — the
    * pairJaccard discipline: a distinct() over exactly the output
    * columns canonicalizes identically under both consumers, so the
    * expensive exact ground-truth pass (10 × corpus cosines)
    * materializes once and the second consumer reads the reused
    * exchange. Without it the brute-force pass ran once per consumer —
    * ~22 s of the 99 s sf1000 `rplsh_recall` wall
    * (`r18m/sf1000_ann_topk/`). Semantically a no-op: (qid, cid) rows
    * are unique by construction. */
  private def recallDf(truth: org.apache.spark.sql.DataFrame,
      ann: org.apache.spark.sql.DataFrame) = {
    val t = truth.select(col("qid"), col("cid")).distinct()
    val hits = t.join(ann.select(col("qid"), col("cid")), Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    t.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_at_10", col("n_hits") / lit(10.0))
  }

  /** ANN quality, quantified (VERDICT r06 "what's missing" 3): recall@10
    * of the RP-LSH candidate search against exact brute-force cosine
    * ground truth — a join + agg over the two top-10 frames, fully
    * oracle-expressible, so the quality number itself is hash-gated.
    * PERF.md records the measured recall next to the speedups; a real
    * user's first question about an ANN index gets a pinned answer. */
  val rplshRecall = Q("rplsh_recall", (s, d) => {
    import s.implicits._
    recallDf(knnDf(s, d, bucketed = false).select($"qid", $"cid"),
      rplshKnnDf(s, d).select($"qid", $"cand_id".as("cid")))
  }, Some(s"""
    WITH $bfTruthSqlCtes,
    $rplshSqlCtes,
    ann_t AS (SELECT qid, cand_id AS cid FROM r WHERE rank <= 10),
    ${recallSqlTail("ann_t")}"""),
    sortCols = Seq("qid"))

  /** Recall@10 of the probed IVF index (same contract as
    * [[rplshRecall]]): quantifies what nprobe=2 of k≈√n cells gives up
    * against exact search. */
  val ivfRecall = Q("ivf_recall", (s, d) => {
    import s.implicits._
    recallDf(knnDf(s, d, bucketed = false).select($"qid", $"cid"),
      ivfProbe.run(s, d).select($"qid", $"cand_id".as("cid")))
  }, Some(s"""
    WITH $bfTruthSqlCtes,
    ${ivfSqlCtes(2)},
    ann_t AS (SELECT qid, cand_id AS cid FROM r WHERE rank <= 10),
    ${recallSqlTail("ann_t")}"""),
    sortCols = Seq("qid"))

  /** The recall/cost SWEEP point: same probed index at nprobe=4 —
    * together with [[ivfRecall]] (nprobe=2) this pins the knob every IVF
    * deployment tunes: how much recall each extra probed cell buys, at
    * linearly more corpus touched per query. Oracle-gated like the rest
    * of the recall family. */
  val ivfRecallN4 = Q("ivf_recall_n4", (s, d) => {
    import s.implicits._
    recallDf(knnDf(s, d, bucketed = false).select($"qid", $"cid"),
      ivfProbeDf(s, d, nprobe = 4).select($"qid", $"cand_id".as("cid")))
  }, Some(s"""
    WITH $bfTruthSqlCtes,
    ${ivfSqlCtes(4)},
    ann_t AS (SELECT qid, cand_id AS cid FROM r WHERE rank <= 10),
    ${recallSqlTail("ann_t")}"""),
    sortCols = Seq("qid"))

  // ------------------------------------------------------------------
  // int8-quantized similarity — the byte-budget member of the ANN
  // family. IVF and RP-LSH cut WHICH vectors a query touches; scalar
  // quantization cuts the BYTES of every vector touched: float32
  // embeddings quantized per-vector to array<tinyint> are 4× smaller on
  // disk, in the scan, and across every shuffle that carries candidate
  // vectors — at 100 TB of embeddings that is the difference between a
  // 100 TB and a 25 TB first pass. Quantized cosine is approximate;
  // the production shape is quantized shortlist → exact re-rank
  // (`quant_rerank`), with `quant_recall` auditing the raw
  // quantized ranking. All three rows are oracle-gated: the
  // quantization (IEEE double scale + half-away round) and the integer
  // dots are bit-identical in DuckDB.
  // ------------------------------------------------------------------

  /** Persisted int8 codes — built at most once per embeddings
    * fingerprint ([[graft.sources.BuildOnce]]), like the IVF index and
    * the RP-LSH key table: `(vec_id, label, q: array<tinyint>, qn2)`.
    * Probes read the codes; quantization never re-runs per query
    * (its HOF lambdas are interpreted — build-time-only by design). */
  private def quantIndex(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.sources.BuildOnce.dir("graft_quant",
      graft.sources.BuildOnce.stampOf(s"$d/embeddings.parquet", "quant-v1|sym127"),
      base => graft.sources.ArtifactStore.exists(s"$base/codes/_SUCCESS")) { tmp =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          Vectors.quantizeInt8(col("embedding")).as("q"))
        .withColumn("qn2", Vectors.intDot(col("q"), col("q")))
        .write.mode("overwrite").parquet(s"$tmp/codes")
    }

  /** Quantized top-`r` per query over the persisted codes: broadcast the
    * 10 query code rows, exact integer dots ([[Vectors.intDot]], native
    * codegen over the tinyint arrays — no cast back to float anywhere),
    * two-phase top-k. The scan reads only `(vec_id, q, qn2)` — a quarter
    * of the float bytes. */
  private def quantShortlist(s: org.apache.spark.sql.SparkSession, d: String,
      r: Int) = {
    val c = s.read.parquet(s"${quantIndex(s, d)}/codes")
    val q = c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("qn2").as("qqn2"))
    val sims = c.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        Vectors.cosine(Vectors.intDot(col("qq"), col("q")),
          col("qqn2"), col("qn2")).as("cos_q"))
    // bounded-heap top-k (see knnDf): the quantized first pass scores
    // the whole codes table per query — sort-free via the k-slot agg
    Vectors.topKPerKeyAgg(sims, "qid", "cos_q", "cand_id", r)
  }

  /** Shared oracle CTE chain: per-vector symmetric int8 quantization
    * (`q_i = round(x_i·127/max|x|)`), integer norms, integer-dot cosine,
    * rank — ends in `qz_r` (ranked quantized candidates). */
  private lazy val quantSqlCtes: String = """qz_m AS (
      SELECT vec_id, embedding,
        list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
          'max') AS mx
      FROM embeddings),
    qz_c AS (SELECT vec_id,
        CASE WHEN mx IS NULL OR mx = 0
          THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
          ELSE list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) END AS q
      FROM qz_m),
    qz_n AS (SELECT vec_id, q,
        CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qn2
      FROM qz_c),
    qz_q AS (SELECT vec_id AS qid, q AS qq, qn2 AS qqn2
      FROM qz_n WHERE vec_id < 10),
    qz_s AS (SELECT q.qid, v.vec_id AS cand_id,
        CAST(list_sum(list_transform(list_zip(q.qq, v.q), p -> p[1] * p[2]))
          AS BIGINT) / sqrt(q.qqn2 * v.qn2) AS cos_q
      FROM qz_q q JOIN qz_n v ON v.vec_id <> q.qid),
    qz_r AS (SELECT qid, cand_id, cos_q,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, cand_id)
          AS INTEGER) AS rank
      FROM qz_s)"""

  /** Brute-force top-10 by QUANTIZED cosine — the raw approximate
    * ranking a 4×-cheaper first pass produces (audited by
    * [[quantRecall]]; production re-ranks it, [[quantRerank]]). */
  val quantKnn = Q("quant_knn", (s, d) => {
    import s.implicits._
    quantShortlist(s, d, 10).select($"qid", $"cand_id", $"rank", $"cos_q")
  }, Some(s"""
    WITH $quantSqlCtes
    SELECT qid, cand_id, rank, cos_q FROM qz_r WHERE rank <= 10
    ORDER BY qid, rank"""),
    sortCols = Seq("qid", "rank"))

  /** Quantized shortlist (top-40) → EXACT re-rank → top-10: the
    * standard two-stage ANN economics — the full-precision kernel runs
    * on 40 candidates per query instead of the corpus, and the cheap
    * pass that picked them read a quarter of the bytes. On the fixture
    * the re-ranked recall@10 vs exact brute force is 1.0 (VectorsSpec
    * pins ≥ [[quantRecall]]'s raw value). */
  val quantRerank = Q("quant_rerank", (s, d) => {
    import s.implicits._
    val short = quantShortlist(s, d, 40).select($"qid", $"cand_id")
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", Vectors.normScaled($"embedding").as("n2"))
    val qEmb = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"n2".as("qn2"))
    val sims = short.join(emb, $"cand_id" === emb("vec_id"))
      .join(broadcast(qEmb), Seq("qid"))
      .select($"qid", $"cand_id",
        Vectors.cosine(Vectors.dotScaled($"qe", $"embedding"),
          $"qn2", $"n2").as("cos_sim"))
    Vectors.topKPerKey(sims, $"qid", $"cos_sim", $"cand_id", 10)
      .select($"qid", $"cand_id", $"rank", $"cos_sim")
  }, Some(s"""
    WITH $quantSqlCtes,
    sl AS (SELECT qid, cand_id FROM qz_r WHERE rank <= 40),
    rr_v AS (SELECT vec_id, embedding,
        list_sum(list_transform(embedding,
          x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12))) AS n2
      FROM embeddings),
    rr_q AS (SELECT vec_id AS qid, embedding AS qe, n2 AS qn2
      FROM rr_v WHERE vec_id < 10),
    rr_s AS (SELECT s.qid, s.cand_id,
        list_sum(list_transform(list_zip(q.qe, v.embedding),
          p -> round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e12)))
          / sqrt(q.qn2 * v.n2) AS cos_sim
      FROM sl s JOIN rr_v v ON v.vec_id = s.cand_id
      JOIN rr_q q ON q.qid = s.qid),
    rr_r AS (SELECT qid, cand_id, cos_sim,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cand_id)
          AS INTEGER) AS rank
      FROM rr_s)
    SELECT qid, cand_id, rank, cos_sim FROM rr_r WHERE rank <= 10
    ORDER BY qid, rank"""),
    sortCols = Seq("qid", "rank"))

  /** IVF × int8 — the two ANN levers composed (the IVF-PQ shape every
    * production vector store runs): the query routes to its `nprobe`
    * centroid buckets through the PERSISTED IVF index, and the
    * candidates inside those buckets are scored with the PERSISTED int8
    * codes — so a probe touches nprobe/k of the corpus AND reads a
    * quarter of the bytes per touched vector (nprobe=2 of k=8 → ~1/16
    * of the brute-force float cost). Routing is full-precision (the
    * centroid table is tiny and routing errors are the expensive kind);
    * scoring is the native `int_dot`. Both index artifacts are reused
    * from their own rows, and the oracle re-derives the whole
    * composition — centroid build, assignment, routing, quantization,
    * integer cosine — in SQL, so the two artifacts are cross-checked
    * against first principles in one hash. Production would inline the
    * codes into the posting lists (one co-partitioned artifact, saving
    * this row's vec_id join); the two-artifact form keeps each index
    * independently consumable. */
  val ivfQuant = Q("ivf_quant", (s, d) => {
    import s.implicits._
    val v = Tables.embeddings(s, d)
    val centroids = s.read.parquet(s"${ivfIndex(s, d)}/centroids")
    val assignments = s.read.parquet(s"${ivfIndex(s, d)}/assignments")
    val codes = s.read.parquet(s"${quantIndex(s, d)}/codes")
      .select($"vec_id", $"q", $"qn2")
    val q = v.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("_q"),
        Vectors.normScaled($"embedding").as("_qn"))
    val qBuckets = Vectors.routeQueries(q, "qid", centroids, nprobe = 2)
      .select($"qid", $"centroid_id")
    val qCodes = codes.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"q".as("qq"), $"qn2".as("qqn2"))
    val sims = assignments.join(broadcast(qBuckets), Seq("centroid_id"))
      // shuffle_hash: the bucket-filtered probe side builds (~nprobe
      // lists), the full codes table streams instead of SMJ-sorting
      .hint("shuffle_hash")
      .join(codes, Seq("vec_id"))
      .filter($"vec_id" =!= $"qid")
      .join(broadcast(qCodes), Seq("qid"))
      .select($"qid", $"vec_id".as("cand_id"),
        Vectors.cosine(Vectors.intDot($"qq", $"q"), $"qqn2", $"qn2").as("cos_q"))
    Vectors.topKPerKey(sims, $"qid", $"cos_q", $"cand_id", 10)
      .select($"qid", $"cand_id", $"rank", $"cos_q")
  }, Some(s"""
    WITH ${ivfSqlCtes(2)},
    $quantSqlCtes,
    iq_s AS (SELECT p.qid, z.vec_id AS cand_id,
        CAST(list_sum(list_transform(list_zip(zq.qq, z.q), pp -> pp[1] * pp[2]))
          AS BIGINT) / sqrt(zq.qqn2 * z.qn2) AS cos_q
      FROM qprobe p
      JOIN assign1 a ON a.centroid_id = p.centroid_id
      JOIN qz_n z ON z.vec_id = a.vec_id
      JOIN qz_q zq ON zq.qid = p.qid
      WHERE z.vec_id <> p.qid),
    iq_r AS (SELECT qid, cand_id, cos_q,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, cand_id)
          AS INTEGER) AS rank
      FROM iq_s)
    SELECT qid, cand_id, rank, cos_q FROM iq_r WHERE rank <= 10
    ORDER BY qid, rank"""),
    sortCols = Seq("qid", "rank"))

  /** Recall@10 of the RAW quantized ranking vs exact brute force — what
    * int8 costs in ranking quality before the re-rank stage buys it
    * back. Oracle-gated like the IVF/RP-LSH recall rows. */
  val quantRecall = Q("quant_recall", (s, d) => {
    import s.implicits._
    recallDf(knnDf(s, d, bucketed = false).select($"qid", $"cid"),
      quantShortlist(s, d, 10).select($"qid", $"cand_id".as("cid")))
  }, Some(s"""
    WITH $bfTruthSqlCtes,
    $quantSqlCtes,
    ann_t AS (SELECT qid, cand_id AS cid FROM qz_r WHERE rank <= 10),
    ${recallSqlTail("ann_t")}"""),
    sortCols = Seq("qid"))

  /** Semantic decontamination audit — the embedding-space complement of
    * the n-gram `decontaminate` row (paraphrased benchmark leakage has
    * no 5-gram overlap but lives next to the benchmark in embedding
    * space): for every corpus vector, the max cosine against the
    * benchmark set and the nearest benchmark id, ranked by risk. A
    * practitioner inspects this distribution BEFORE picking a cutoff,
    * so the row is primarily threshold-free; the `flagged` column
    * applies a fixture-calibrated τ=0.45 (near-uniform random
    * embeddings put the benign tail just below it).
    *
    * Scale shape: benchmark vectors broadcast (eval suites are bounded);
    * the corpus side is a single pass — ONE cross join against the
    * broadcast set feeding ONE argmax aggregation (`arg_max_by(bid,
    * sim)` + `max(sim)` — max sim with min-benchmark-id tie-break), so
    * the dominant cost — the corpus×benchmark cosine pass — executes
    * exactly once (VERDICT r07 finding 3: the previous
    * max-then-join-back plan re-ran it). Round 17: the argmax had been
    * `max(struct(sim, -bid))`, whose struct buffer silently
    * SortAggregates the whole n·|bench| score stream (the r16
    * `ivf_knn` defect class, caught by the catalog-wide PlanSpec
    * sweep); the two-aggregate form holds three primitive buffer slots
    * in one HashAggregate, bit-identically ordered. The only exchange
    * is the per-vector max on the high-cardinality id. Ties on max_sim
    * are well-defined cross-engine thanks to the exact scaled-int
    * cosines.
    *
    * The benchmark is a FIXED id set (`vec_id % 50 = 0` below
    * [[SemanticBenchMaxId]]) — the production meaning: eval suites do
    * not grow with the corpus, so the row measures LINEAR corpus
    * scaling across fixture decades (VERDICT r10 "what's missing" #3:
    * the previous all-multiples slice grew BOTH sides of the cross
    * join, making the catalog row quadratic-ish on derived fixtures by
    * construction). At the driver's sf0.01 oracle fixture (500
    * vectors) the fixed set and the slice coincide, so the oracle
    * output is unchanged; [[semanticDecontamSlice]] keeps the
    * corpus-proportional form as a declared bench-only variant. */
  val semanticDecontam = Q("semantic_decontam", (s, d) => {
    import s.implicits._
    val v = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", Vectors.normScaled($"embedding").as("n2"))
    val isBench = $"vec_id" % 50 === 0 && $"vec_id" < SemanticBenchMaxId
    val bench = v.filter(isBench)
      .select($"vec_id".as("bid"), $"embedding".as("be"), $"n2".as("bn2"))
    val corpus = v.filter(!isBench)
    val sims = corpus.crossJoin(broadcast(bench))
      .select($"vec_id", $"bid",
        Vectors.cosine(Vectors.dotScaled($"embedding", $"be"), $"n2", $"bn2").as("sim"))
    sims.groupBy($"vec_id")
      .agg(call_function("arg_max_by", $"bid", $"sim").as("top_bench"),
        max($"sim").as("max_sim"))
      .select($"vec_id", $"top_bench", $"max_sim",
        ($"max_sim" >= 0.45).as("flagged"))
  }, Some(s"""
    WITH v AS (SELECT vec_id, embedding,
        list_sum(list_transform(embedding,
          x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12))) AS n2
      FROM embeddings),
    b AS (SELECT vec_id AS bid, embedding AS be, n2 AS bn2 FROM v
      WHERE vec_id % 50 = 0 AND vec_id < $SemanticBenchMaxId),
    c AS (SELECT vec_id, embedding, n2 FROM v
      WHERE NOT (vec_id % 50 = 0 AND vec_id < $SemanticBenchMaxId)),
    s AS (SELECT c.vec_id, b.bid,
        list_sum(list_transform(list_zip(c.embedding, b.be),
          p -> round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e12)))
          / sqrt(c.n2 * b.bn2) AS sim
      FROM c CROSS JOIN b),
    m AS (SELECT vec_id, max(sim) AS max_sim FROM s GROUP BY 1)
    SELECT s.vec_id, min(s.bid) AS top_bench, m.max_sim,
      m.max_sim >= 0.45 AS flagged
    FROM s JOIN m ON s.vec_id = m.vec_id AND s.sim = m.max_sim
    GROUP BY s.vec_id, m.max_sim
    ORDER BY s.vec_id"""),
    sortCols = Seq("vec_id"))

  /** The OLD corpus-slice benchmark (`vec_id % 50 = 0`, every multiple)
    * as a DECLARED bench-only variant, like `q1_agg_fast`: both sides of
    * the cross join grow with the fixture, so its decade ratio shows
    * what pinning the benchmark buys. No oracle by design — the driver
    * records a rows-only check; the plan is the oracle-gated
    * [[semanticDecontam]]'s with a different benchmark predicate. */
  val semanticDecontamSlice = Q("semantic_decontam_slice", (s, d) => {
    import s.implicits._
    val v = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", Vectors.normScaled($"embedding").as("n2"))
    val bench = v.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("bid"), $"embedding".as("be"), $"n2".as("bn2"))
    val corpus = v.filter($"vec_id" % 50 =!= 0)
    val sims = corpus.crossJoin(broadcast(bench))
      .select($"vec_id", $"bid",
        Vectors.cosine(Vectors.dotScaled($"embedding", $"be"), $"n2", $"bn2").as("sim"))
    sims.groupBy($"vec_id")
      .agg(call_function("arg_max_by", $"bid", $"sim").as("top_bench"),
        max($"sim").as("max_sim"))
      .select($"vec_id", $"top_bench", $"max_sim",
        ($"max_sim" >= 0.45).as("flagged"))
  }, None, sortCols = Seq("vec_id"))

  /** Persisted IVF index: built at most once per embeddings fingerprint
    * (stale-proof, race-proof — see [[graft.sources.BuildOnce]]), probed
    * by `ivf_probe` and reusable across Verify/Bench JVMs. */
  /** The standing IVF artifact's directory — exposed package-private so
    * the absorb-lifecycle measurement ([[graft.AbsorbScale]]) can clone
    * the STANDING index instead of paying a fresh build (absorbs mutate,
    * so the measurement works on a copy, never the catalog artifact). */
  private[graft] def ivfIndexDir(s: org.apache.spark.sql.SparkSession,
      d: String): String = ivfIndex(s, d)

  private def ivfIndex(s: org.apache.spark.sql.SparkSession, d: String): String = {
    // k ≈ √n at build time, Lloyd on a ~64·k hash-sample, assignment
    // through √k coarse cells (the full AnnGeometry contract — a flat
    // build is n^1.5 at this k); the stamp carries all three derived
    // values, so a corpus whose contract geometry differs gets a fresh
    // index instead of silently probing lists built at the wrong shape
    val n = graft.operators.AnnGeometry.corpusRows(s, s"$d/embeddings.parquet")
    val k = graft.operators.AnnGeometry.ivfK(n)
    val sp = graft.operators.AnnGeometry.lloydSamplePeriod(n, k)
    val ck = graft.operators.AnnGeometry.ivfCoarseK(k)
    graft.sources.BuildOnce.dir("graft_ivf",
      graft.sources.BuildOnce.stampOf(s"$d/embeddings.parquet",
        s"ivf-v3|k=$k|lloyd=1|sample=$sp|route=$ck"),
      base => graft.sources.ArtifactStore.exists(s"$base/centroids/_SUCCESS") &&
        graft.sources.ArtifactStore.exists(s"$base/assignments/_SUCCESS")) { tmp =>
      Vectors.writeIndex(Tables.embeddings(s, d), "vec_id", "embedding", k, tmp,
        samplePeriod = sp, routeCoarseK = ck)
    }
  }

  /** Persisted duplicate-cluster labeling — the production shape PERF.md
    * promises: run connected components over the LSH candidate pairs ONCE,
    * land (doc_id, cluster_id) BUCKETED on doc_id, and let every
    * downstream consumer (canonical-keep filters, per-cluster stats,
    * training-set exclusion lists) probe the artifact instead of
    * re-deriving the clustering. The labeling is corpus-proportional,
    * so bucketing is what makes the probe's anti-join scale-safe: the
    * labels side never shuffles — only the probing corpus projection
    * pays an exchange into the bucket layout (same design as
    * [[graft.sources.DedupIndex]]). Same build-once discipline as the
    * IVF index; returns the registered session table name. */
  private def dedupLabels(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val base = graft.sources.BuildOnce.dir("graft_cc",
      graft.sources.BuildOnce.stampOf(s"$d/documents.parquet", DedupAlgoToken),
      b => graft.sources.ArtifactStore.exists(s"$b/labels/_SUCCESS")) { tmp =>
      val pairs = TextOps.verifiedCandidatePairs(Tables.documents(s, d), "doc_id", "text")
      val tag = s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
      Components.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .write.bucketBy(graft.sources.DedupIndex.Buckets, "doc_id").sortBy("doc_id")
        .option("path", s"$tmp/labels").saveAsTable(s"graft_build_cc_$tag")
      s.sql(s"DROP TABLE graft_build_cc_$tag")
    }
    graft.sources.DedupIndex.registerBucketed(s, s"$base/labels", "graft_cc_labels",
      "doc_id BIGINT, cluster_id BIGINT", Seq("doc_id"))
  }

  /** Algorithm fingerprint folded into the dedup-label artifact stamp
    * (ADVICE r06): any change to banding, signature count, or the
    * verification threshold routes probes to a FRESH artifact directory
    * instead of silently serving labels built by older code. */
  private def DedupAlgoToken: String =
    s"cc-v3-bucketed|bands=${TextOps.bands}x${TextOps.rowsPerBand}" +
      s"|k=${TextOps.minhashA.size}|verify>=${TextOps.verifyMinEqual}" +
      s"|perm=${(TextOps.minhashA ++ TextOps.minhashB).hashCode}"

  // lazy: referenced by ivfKnn/ivfProbe above their textual position
  private lazy val ivfSql: String = s"""
    WITH ${ivfSqlCtes(2)}
    SELECT qid, cand_id, rank, cos_sim FROM r WHERE rank <= 10
    ORDER BY qid, rank"""

  /** The IVF oracle's CTE chain (ends in `r` = ranked probed cosines),
    * shared by `ivf_knn`/`ivf_probe` and `ivf_recall`. */
  private def ivfSqlCtes(nprobe: Int): String = (s"""v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    vn AS (
      SELECT vec_id, e,
             list_sum(list_transform(e, x -> round(x * x * 1e12))) AS n2
      FROM v),
    sn AS (
      SELECT vec_id AS centroid_id, e AS c, n2 AS cn2 FROM vn
      WHERE vec_id < ${graft.operators.AnnGeometry.ivfKSql("embeddings")}),
    lin AS (
      -- Lloyd-sample (AnnGeometry.lloydSamplePeriod: ~64·k training
      -- points; seeds always included so no cell empties) — period 1 on
      -- the verify fixtures = the exact full-corpus Lloyd
      SELECT * FROM vn
      WHERE ${graft.queries.hash60Sql("'ivfs:' || CAST(vec_id AS VARCHAR)")}
              % ${graft.operators.AnnGeometry.lloydPeriodSql("embeddings")} = 0
         OR vec_id < ${graft.operators.AnnGeometry.ivfKSql("embeddings")}),
    assign0 AS (
      SELECT vec_id, centroid_id FROM (
        SELECT lin.vec_id, sn.centroid_id,
          row_number() OVER (PARTITION BY lin.vec_id ORDER BY
            list_sum(list_transform(list_zip(lin.e, sn.c),
              p -> round(p[1] * p[2] * 1e12))) / sqrt(lin.n2 * sn.cn2) DESC,
            sn.centroid_id) AS rn
        FROM lin, sn) WHERE rn = 1),
    dims AS (
      SELECT a.centroid_id, unnest(lin.e) AS x, unnest(range(len(lin.e))) AS dim
      FROM assign0 a JOIN lin ON lin.vec_id = a.vec_id),
    cent AS (
      SELECT centroid_id, list(m ORDER BY dim) AS c FROM (
        SELECT centroid_id, dim, sum(round(x * 1e7)) / 1e7 / count(*) AS m
        FROM dims GROUP BY 1, 2) GROUP BY 1),
    cn AS (
      SELECT centroid_id, c,
             list_sum(list_transform(c, x -> round(x * x * 1e12))) AS cn2
      FROM cent),
    co AS (
      -- coarse routing cells = the first ceil(sqrt(k)) centroids
      SELECT centroid_id AS coarse_id, c AS cc, cn2 AS ccn2 FROM cn
      WHERE centroid_id < ${graft.operators.AnnGeometry.ivfCoarseKSql("embeddings")}),
    f2c AS (
      -- each fine centroid registers in its top-2 coarse cells
      SELECT centroid_id, coarse_id FROM (
        SELECT cn.centroid_id, co.coarse_id,
          row_number() OVER (PARTITION BY cn.centroid_id ORDER BY
            list_sum(list_transform(list_zip(cn.c, co.cc),
              p -> round(p[1] * p[2] * 1e12))) / sqrt(cn.cn2 * co.ccn2) DESC,
            co.coarse_id) AS rn
        FROM cn, co) WHERE rn <= 2),
    vco AS (
      -- each vector's nearest coarse cell
      SELECT vec_id, coarse_id FROM (
        SELECT vn.vec_id, co.coarse_id,
          row_number() OVER (PARTITION BY vn.vec_id ORDER BY
            list_sum(list_transform(list_zip(vn.e, co.cc),
              p -> round(p[1] * p[2] * 1e12))) / sqrt(vn.n2 * co.ccn2) DESC,
            co.coarse_id) AS rn
        FROM vn, co) WHERE rn = 1),
    assign1 AS (
      -- exact argmax over the routed cell's fines (two-level assignment:
      -- the rule, not the flat argmax, is the cross-engine contract)
      SELECT vec_id, centroid_id FROM (
        SELECT vn.vec_id, cn.centroid_id,
          row_number() OVER (PARTITION BY vn.vec_id ORDER BY
            list_sum(list_transform(list_zip(vn.e, cn.c),
              p -> round(p[1] * p[2] * 1e12))) / sqrt(vn.n2 * cn.cn2) DESC,
            cn.centroid_id) AS rn
        FROM vn
        JOIN vco ON vco.vec_id = vn.vec_id
        JOIN f2c ON f2c.coarse_id = vco.coarse_id
        JOIN cn ON cn.centroid_id = f2c.centroid_id) WHERE rn = 1),
    q AS (SELECT vec_id AS qid, e AS qe, n2 AS qn2 FROM vn WHERE vec_id < 10),
    qprobe AS (
      SELECT qid, qe, qn2, centroid_id FROM (
        SELECT q.qid, q.qe, q.qn2, cn.centroid_id,
          row_number() OVER (PARTITION BY q.qid ORDER BY
            list_sum(list_transform(list_zip(q.qe, cn.c),
              p -> round(p[1] * p[2] * 1e12))) / sqrt(q.qn2 * cn.cn2) DESC,
            cn.centroid_id) AS rn
        FROM q, cn) WHERE rn <= $nprobe),
    sims AS (
      SELECT p.qid, vn.vec_id AS cand_id,
        list_sum(list_transform(list_zip(p.qe, vn.e),
          pp -> round(pp[1] * pp[2] * 1e12))) / sqrt(p.qn2 * vn.n2) AS cos_sim
      FROM qprobe p
      JOIN assign1 a ON a.centroid_id = p.centroid_id
      JOIN vn ON vn.vec_id = a.vec_id
      WHERE vn.vec_id <> p.qid),
    r AS (
      SELECT qid, cand_id, cos_sim,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cand_id)
          AS INTEGER) AS rank
      FROM sims)""")

  val all: Seq[Q] = Seq(
    docDedup, dedupHash, dedupHashProbe, minhashBands, minhashPairs, minhashPairsVerified, pairJaccard,
    dupClusters, corpusDedup,
    trainSplit, perSourceCap, tokenBudget, lenQuantiles, incrementalDedup,
    incrementalDedupBloom, incrementalDedupPruned,
    corpusDedupProbe, clusterSizes, chunkDocs, packSequences, hybridSearch,
    lenQuantilesApprox, minhashBandsXx, simhashXx,
    ngramJaccard, simhash, simhashNeardup, docFingerprint, textStats,
    tokenCount, langId, trainingPrep, trainingPrepProbe, knnCosine, knnBucketed,
    embeddingNeardup, semDedup, semDedupAnn, ivfKnn, ivfProbe, rplshKnn, rplshProbe, rplshRecall,
    ivfRecall, ivfRecallN4, quantKnn, quantRerank, quantRecall, ivfQuant,
    semanticDecontam, semanticDecontamSlice)
}
