package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.json4s.JInt

import graft.ops.Par
import graft.store.IndexStore
import graft.text.TextFunctions

/** Deduplication operators for web-scale corpora: exact (hash-groupBy),
  * exact n-gram Jaccard (shingle inverted-index join), MinHash LSH
  * (Spark ML), SimHash banding, and embedding-cosine near-dup.
  *
  * Persistence: intermediates consumed twice as self-join sides share one
  * canonical plan, so AQE's exchange reuse materializes them once — no
  * cache needed there. The one exception is minhash's (id, shingles)
  * frame, consumed by three divergent plans; it is persisted
  * (MEMORY_AND_DISK, spills rather than evicts) and left to Spark's LRU —
  * eager unpersist would break the lazily-returned result.
  *
  * Scale design: every pairwise method avoids the O(n²) cross join —
  * candidate pairs come from an equi-join on a shared key (shingle, LSH
  * bucket, simhash band), which Spark executes as a shuffled hash join on
  * that key. Hot keys (stop-shingles shared by millions of docs) are the
  * classic skew hazard, so shingle joins drop shingles above a document-
  * frequency cap — the standard trick, and it also removes the quadratic
  * blowup of a single viral shingle.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per normalized-text fingerprint.
    * One shuffle on the fingerprint; survivors join back by id would be a
    * second — instead we keep (fingerprint → survivor, group size).
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val survivors = exactGroups(df, textCol, idCol)
      .select(col("keep_id").as(idCol))
    df.join(survivors, idCol)
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle:
    * explode distinct shingles → self-join on shingle (inverted index) →
    * |A∩B| via groupBy pair → Jaccard with |A|+|B|-|A∩B|.
    *
    * `maxShingleDf` drops shingles appearing in more docs than the cap
    * (skew + noise control at scale; pass Int.MaxValue to disable).
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, minJaccard: Double,
                        maxShingleDf: Int = 1000): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val base = Par.fanOut(df.select(col(idCol).as("doc"), col(textCol).as("text")))
    val arr = array_filter_nonempty(
      TextFunctions.distinctWordNGrams(col("text"), n))
    if (maxShingleDf == Int.MaxValue) {
      // Carry each doc's shingle-set size THROUGH the explode so no
      // separate sizes aggregation (and no join-back) is needed: |A| and
      // |B| ride along with every inverted-index row and fall out of the
      // pair groupBy for free (functionally dependent on the doc ids).
      // The self-join's two sides share one canonical plan, so Spark
      // computes the exchange once (ReusedExchange) — no cache pin needed.
      // Net: 2 shuffles (s for the join, pair for the groupBy) vs 5 naive.
      // explode_outer, not explode: InferFiltersFromGenerate turns a plain
      // explode into an inferred `size(arr)>0 AND isnotnull(arr)` filter
      // that predicate pushdown substitutes (full shingle expression, twice)
      // below the fan-out exchange — re-serializing the whole shingle
      // computation onto the single pre-shuffle task. The rule skips outer
      // generates; the explicit isnotnull(s) keeps the row semantics.
      // The index rows carry xxhash64(shingle), not the string: the join
      // key drops from ~20 variable bytes to 8 fixed, which slims the
      // one big exchange AND turns every join-probe comparison into a
      // long equality. n_inter over hashes equals n_inter over strings
      // absent a 64-bit collision between distinct shingles — the same
      // premise as minhashPairs' hashed rerank, spec-pinned collision-
      // free on the oracle corpora (DedupSimSpec) and string-truth-
      // checked end-to-end by the q36/q38/q64 DuckDB gates.
      val sh = base.select(col("doc"), arr.as("_arr"))
        .select(col("doc"), size(col("_arr")).as("n_sh"),
          explode_outer(col("_arr")).as("s"))
        .filter(col("s").isNotNull)
        .select(col("doc"), col("n_sh"), xxhash64(col("s")).as("s"))
      // pair intersection counts pinned at the rows-derived width; the
      // jaccard arithmetic + threshold stay unpinned
      Par.pinAtWidth("jaccard.pairagg", selfJoinOnShingle(sh)
        .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
          col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
        .agg(count(lit(1)).as("n_inter")), Par.width(df, Par.PinRowsPerTask))
        .withColumn("jaccard",
          round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 6))
        .filter(col("jaccard") >= minJaccard)
        .select("id_a", "id_b", "jaccard")
    } else {
      // Document-frequency cap: the hot-shingle list (df > cap) comes from
      // a map-side-combined groupBy — its OUTPUT is tiny (only viral keys)
      // even though its input is the full index — and is broadcast into a
      // left_anti join, so the index itself is never shuffled for the cap.
      // Post-cap per-doc sizes need their own small aggregate, joined back
      // onto the (already tiny) pair aggregate, not onto the index.
      // Persisted: the exploded index feeds three divergent plans (the
      // hot-shingle aggregate, the post-cap sizes aggregate, and the
      // self-join) — exchange reuse only dedups the identical join sides,
      // so without persistence the shingle build would run ~3x.
      val exploded = Par.pinLatest("jaccard.index",
        base.select(col("doc"), explode_outer(arr).as("s"))
          .filter(col("s").isNotNull) // see no-cap branch: dodge InferFiltersFromGenerate
          .select(col("doc"), xxhash64(col("s")).as("s"))) // hashed key, as above
      val hot = exploded.groupBy("s").agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxShingleDf).select("s")
      val filtered = exploded.join(broadcast(hot), Seq("s"), "left_anti")
      val sizes = filtered.groupBy("doc").agg(count(lit(1)).as("n_sh"))
      // pair-agg pin, as in the no-cap branch
      Par.pinAtWidth("jaccard.pairagg", selfJoinOnShingle(filtered)
        .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
        .agg(count(lit(1)).as("n_inter")), Par.width(df, Par.PinRowsPerTask))
        .join(sizes.select(col("doc").as("id_a"), col("n_sh").as("n_a")), "id_a")
        .join(sizes.select(col("doc").as("id_b"), col("n_sh").as("n_b")), "id_b")
        .withColumn("jaccard",
          round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 6))
        .filter(col("jaccard") >= minJaccard)
        .select("id_a", "id_b", "jaccard")
    }
  }

  /** Inverted-index self-join on the shingle, shuffle_hash and never
    * broadcast: Catalyst sizes the join sides from the parquet scan (a few
    * MB) and would broadcast — but the exploded index is |docs|×|shingles|
    * rows and the join output is sum(df(s)^2), both far larger than the
    * scan. A shuffled hash join partitions by s (both sides share one
    * canonical exchange → computed once) and spreads the pair explosion
    * across all cores; no SMJ sort, no driver-side broadcast build.
    */
  private def selfJoinOnShingle(sh: DataFrame): DataFrame =
    sh.as("a").hint("shuffle_hash")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))

  /** filter(arr, x -> length(x) > 0) — drops empty shingles BEFORE sizing
    * so |A| matches the exploded row count exactly.
    */
  private def array_filter_nonempty(arr: Column): Column =
    filter(arr, s => length(s) > 0)

  /** Cross-corpus contamination check — the benchmark-decontamination
    * scan of LLM training pipelines (n-gram-collision screening of the
    * training corpus against held-out evaluation sets): for every `bench`
    * document, count the `corpus` documents sharing at least `minShared`
    * distinct word n-grams, plus the largest such overlap. Bench docs with
    * no qualifying collision are absent (clean).
    *
    * Scale design: the benchmark side is tiny relative to a 100 TB corpus,
    * so its exploded shingle index is BROADCAST — the corpus is scanned
    * once, shingled in place, and hash-joined against the broadcast index
    * with no shuffle of corpus-derived rows before the (bench, corpus)
    * pair aggregation, whose input is bounded by true collisions, not by
    * corpus size. Same InferFiltersFromGenerate dodge as the dedup plans.
    */
  def contaminationStats(corpus: DataFrame, bench: DataFrame,
                         textCol: String, idCol: String,
                         n: Int = 3, minShared: Int = 1): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    def shingles(df: DataFrame, name: String, fanOut: Boolean): DataFrame = {
      val base = df.select(col(idCol).as(name), col(textCol).as("text"))
      val src = if (fanOut) Par.fanOut(base) else base
      src.select(col(name),
          explode_outer(array_filter_nonempty(
            TextFunctions.distinctWordNGrams(col("text"), n))).as("s"))
        .filter(col("s").isNotNull)
    }
    shingles(corpus, "corpus_id", fanOut = true)
      .join(broadcast(shingles(bench, "bench_id", fanOut = false)), "s")
      .groupBy("bench_id", "corpus_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy("bench_id")
      .agg(count(lit(1)).as("n_contaminating"),
        max(col("n_shared")).as("max_shared"))
  }

  /** MinHash LSH near-dup pairs, engine-native: per-table signature
    * h_t = min over shingles of xxhash64(shingle, seed_t) (all codegen'd
    * higher-order functions), candidates from an equi-join on the LONG
    * (table, signature) key — a real hash join, unlike Spark ML's
    * approxSimilarityJoin whose VectorUDT key forces a non-codegen join —
    * then a Jaccard rerank over SORTED 64-BIT SHINGLE HASHES
    * (ShingleHashes/SortedIntersectCount — set sizes exact, intersection
    * equal to the string-set intersection absent an xxhash64 collision
    * between distinct shingles, ~|S|²/2⁶⁵; spec-pinned collision-free on
    * the oracle corpora and parity-checked against the string rerank)
    * keeps only pairs >= minJaccard. OR-amplification over
    * `numHashTables` gives recall ≈ 1-(1-J)^k; the post-filter gives
    * precision 1, so the output equals exact Jaccard pairs restricted to
    * LSH-recalled candidates — sub-quadratic at corpus scale.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, numHashTables: Int = 8,
                   minJaccard: Double = 0.2,
                   seed: Long = 42): DataFrame = {
    // The (id, shingles) frame is consumed three times with divergent
    // downstream plans (signature build + two rerank joins), so exchange
    // reuse cannot dedup it — persist it. MEMORY_AND_DISK (the default)
    // spills rather than evicts at corpus scale; this is a deliberate
    // recompute-vs-storage trade, measured ~2x end-to-end.
    // The pin carries BOTH the string shingles (the signature build's
    // input) and their sorted 64-bit hash array `_h` (the rerank's
    // input, r16): the rerank joins consume `_h` TWICE (id_a / id_b
    // sides) and AQE's per-occurrence cache stages defeat exchange
    // reuse, so deriving it outside the pin re-ran the full
    // ShingleHashes pass per side per call (measured sf0.1: 2 × 0.5 s
    // single-task stages — most of q38's warm wall). Storing it costs
    // ~8 B/shingle next to the ~20 B/shingle strings already pinned.
    val sh = Par.pinLatest("minhash.shingles",
      Par.fanOut(df.select(col(idCol).as("id"), col(textCol).as("text")))
        .select(col("id"),
          TextFunctions.distinctWordNGrams(col("text"), n).as("shingles"))
        .filter(size(col("shingles")) > 0)
        .withColumn("_h", graft.functions.ShingleHashes(col("shingles"))))
    // Codegen'd signature build (bit-identical to the array_min/transform/
    // xxhash64 composition — see MinHashSig): one bytes-hash per shingle,
    // k long-folds, no interpreted lambdas. posexplode_outer (not plain):
    // the inferred not-null filter of a non-outer generate would evaluate
    // the whole signature a second time.
    val sigs = sh.select(col("id"),
      posexplode_outer(graft.functions.MinHashSig(
        col("shingles"), numHashTables, seed)))
      .select(col("id"), col("pos").as("t"), col("col").as("h"))
      .filter(col("h").isNotNull)
    // Candidates by STREAMING self-join on the (table, signature) key —
    // never bucket-collect: collecting a bucket's ids into one row and
    // expanding m(m-1)/2 pairs as a single array value crashes on a hot
    // bucket (near-identical boilerplate docs share a min-hash), while a
    // join streams the same pairs as rows. The join rows carry only
    // (id, t, h). (The two sides do NOT share one exchange here: AQE
    // creates a TableCacheQueryStage per occurrence of the pinned `sh`,
    // so the sides never canonicalize equal — probed r15. The duplicated
    // work above the cache is the signature explode, cheap next to the
    // shingle build the pin already saves.) The explicit repartition
    // pins the join key's partition count — AQE would otherwise coalesce
    // this small-bytes/pair-exploding shuffle to one task — and the pair
    // groupBy dedups collisions across tables. The count is derived from
    // the corpus row estimate (Par.width).
    val p = Par.width(df, Par.PinRowsPerTask)
    val sigsP = sigs.repartition(p, col("t"), col("h"))
    // Candidate join+dedup pinned at p (Par.pinAtWidth), so the SHJ +
    // pair-agg stages run p tasks, not `cores`. At-scale (p >= conf) the
    // frame passes through lazy and unpinned. The rerank below stays
    // unpinned and recomputes per run.
    val cand = Par.pinAtWidth("minhash.cand",
      sigsP.as("a").hint("shuffle_hash")
        .join(sigsP.as("b"),
          col("a.t") === col("b.t") && col("a.h") === col("b.h") &&
            col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b")).agg(lit(1))
        .select("id_a", "id_b"), p)
    // Rerank: candidates are numerous PRE-filter (LSH collisions among
    // unrelated docs), so (a) pin the rerank's parallelism — its shuffle
    // bytes are small enough that AQE would coalesce the intersect-heavy
    // stage to one task — and (b) intersect SORTED 64-BIT SHINGLE HASHES
    // (the same content hash the signatures fold over), not the string
    // sets: the string arrays made the join1→join2 intermediate ~1.4 KB
    // per candidate pair — 4.8 GB of shuffle at sf10, the operator's
    // whole dominant cost — where the hashed arrays are 8 B/elem and the
    // per-pair count is a branchy-free merge instead of a hash-set
    // build+probe (SortedIntersectCount). Jaccard over hashed sets
    // equals the string-set Jaccard absent a 64-bit collision between
    // distinct shingles (~|S|²/2⁶⁵); DedupSimSpec pins zero collisions
    // on the oracle corpora and randomized parity with the string-set
    // rerank. n_a/n_b stay exact: ShingleHashes preserves array length.
    val shH = sh.select(col("id"), col("_h")) // rides the pin, no re-hash
    cand.repartition(p, col("id_a"))
      .join(shH.select(col("id").as("id_a"), col("_h").as("_ha")), "id_a")
      .join(shH.select(col("id").as("id_b"), col("_h").as("_hb")), "id_b")
      .withColumn("_inter",
        graft.functions.SortedIntersectCount(col("_ha"), col("_hb")))
      .withColumn("est_jaccard", round(col("_inter") /
        (size(col("_ha")) + size(col("_hb")) - col("_inter")), 6))
      .filter(col("est_jaccard") >= minJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    * Banding: split the 64-bit hash into `bands` chunks; by pigeonhole any
    * pair within maxHamming (< bands) shares at least one exact band, so
    * candidates come from equi-joins on (band index, band bits) — never a
    * cross join.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > maxHamming, "need bands > maxHamming for pigeonhole recall")
    val bits = 64 / bands
    val fanned = Par.fanOut(df.select(col(idCol), col(textCol)))
    val withHash = TextFunctions.withSimhash(fanned, textCol, idCol, "simhash")
      .select(col(idCol).as("id"), col("simhash"))
    val banded = withHash.select(col("id"), col("simhash"),
      explode_outer(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * bits)
            .bitwiseAND(if (bits == 64) -1L else (1L << bits) - 1).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Streaming self-join on (band, key) — see minhashPairs for why a
    // bucket-collect is a hot-bucket crash. The 8-byte simhash rides along
    // so the hamming filter runs BEFORE the dedup groupBy, shrinking that
    // shuffle to true near-dups; grouping then includes hamming, which is
    // functionally dependent on the pair and adds nothing to the key.
    // Rows-derived pin count, as in minhashPairs.
    val p = Par.width(df, Par.PinRowsPerTask)
    val bandedP = banded.repartition(p, col("band"), col("key"))
    // band join + hamming filter pinned at p (see minhashPairs' cand);
    // the cross-band dedup groupBy stays unpinned and runs per call
    Par.pinAtWidth("simhash.cand",
      bandedP.as("a").hint("shuffle_hash")
        .join(bandedP.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          TextFunctions.hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
        .filter(col("hamming") <= maxHamming), p)
      .groupBy("id_a", "id_b", "hamming").agg(lit(1))
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over a near-dup pair graph by iterative
    * min-label propagation: every node's label converges to the smallest
    * id reachable from it, in O(graph diameter) rounds (near-dup
    * components are shallow — typically 2-5 rounds). Each round is one
    * join + one aggregation, all data-parallel; the driver only sequences
    * rounds and checks convergence. Returns (id, comp) for every id that
    * appears in `pairs`.
    *
    * Min-label propagation is accelerated with pointer jumping (label
    * doubling — comp := min(comp, comp(comp)) each round), so rounds
    * are O(log diameter): even a duplicate CHAIN of length 2^maxIter
    * converges. Non-convergence still raises (wrong dedup is worse
    * than a failed job) but now indicates a pathological candidate
    * generator, not merely a deep chain.
    */
  def components(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                 maxIter: Int = 20,
                 driverEdgeBudget: Long = 1L << 20): DataFrame = {
    // Both edge directions in ONE pass over `pairs` (explode of a 2-row
    // array), NOT union(select(a,b), select(b,a)): the union's two sides
    // are canonically different plans, so only the upstream exchange is
    // reused and everything above it — for a Jaccard pair graph, the
    // 100M-row final pair aggregate + threshold filter — would execute
    // TWICE (measured at sf10: q64's edge count was 321 s of CPU, ~2×
    // the pair pipeline's own cost, for a 25k-row result).
    val edges = pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .persist()
    // Auto-route on size (the same regime switch as the broadcast vs
    // data-parallel fit paths): a near-dup pair graph is usually ORDERS
    // smaller than the corpus — when it fits a driver budget (default
    // 2^20 directed edges ≈ 16 MB), exact union-find on the driver
    // replaces O(diameter) distributed rounds whose per-round job
    // overhead dwarfs the data. Big graphs keep the data-parallel loop.
    val nEdges = edges.count()
    // the driver route's min-member ordering is hand-rolled; only take it
    // for id types whose driver comparison provably matches Spark's
    // (integrals, string) — anything else (decimal, date, …) falls
    // through to the distributed loop, whose least() is correct for every
    // orderable type, instead of silently ordering by toString
    val driverOrderable = {
      import org.apache.spark.sql.types._
      edges.schema.head.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => true
        case _ => false
      }
    }
    if (nEdges <= driverEdgeBudget && driverOrderable) {
      import scala.collection.mutable
      val parent = mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      val members = mutable.HashSet.empty[Any]
      edges.collect().foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        members += a; members += b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(rb) = ra
      }
      // comp = MIN member id, matching the propagation fixpoint; the
      // driverOrderable gate above guarantees ids are integral or string
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: Long, b: Long)     => a < b
        case (a: Int, b: Int)       => a < b
        case (a: Short, b: Short)   => a < b
        case (a: Byte, b: Byte)     => a < b
        case (a: String, b: String) => a < b
        case _ => throw new IllegalStateException(
          s"unorderable id pair on the driver route: $x / $y")
      }
      val minOfRoot = mutable.HashMap.empty[Any, Any]
      members.foreach { m =>
        val r = find(m)
        if (!minOfRoot.contains(r) || lt(m, minOfRoot(r))) minOfRoot(r) = m
      }
      val idType = edges.schema.head.dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("comp", idType)))
      val rows = members.toSeq.map(m =>
        org.apache.spark.sql.Row(m, minOfRoot(find(m))))
      edges.unpersist()
      val spark = pairs.sparkSession
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 100000)),
        schema)
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).persist()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val prop = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("comp").as("_ncomp"))
      val next = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("_ncomp"), col("comp"))).as("comp"))
      // pointer jump (label doubling): comp := min(comp, comp(comp)).
      // Every comp value is itself a node id (labels start as id and
      // only ever take on neighbor ids), so self-joining the label
      // frame halves the remaining label-distance each round — the
      // neighbor step alone needs O(diameter) rounds, and a duplicate
      // CHAIN (truncation families, rolling near-dups) has diameter ~
      // its length. With the jump, rounds are O(log diameter): a 5000-
      // link chain converges in ~13 rounds instead of failing maxIter.
      // One extra keyed join per round; labels are (id, comp) pairs —
      // orders of magnitude smaller than the edge list the first join
      // already shuffles.
      val jumpedPlan = next.as("n")
        .join(next.select(col("id").as("_cid"), col("comp").as("_ccomp"))
          .as("c"), col("n.comp") === col("_cid"), "left")
        .select(col("n.id").as("id"),
          least(col("n.comp"), coalesce(col("_ccomp"), col("n.comp")))
            .as("comp"))
      // lineage barrier: the self-join references `next`'s plan TWICE,
      // so without a cut the logical plan doubles per round (2^rounds
      // nodes — the driver OOMs analyzing round ~13 of a deep chain).
      // Re-wrapping the (shared-DAG) RDD as a fresh LogicalRDD leaf
      // keeps plan size constant per round; persist bounds recompute.
      val jumped = next.sparkSession
        .createDataFrame(jumpedPlan.rdd, jumpedPlan.schema).persist()
      val changed = jumped.as("j")
        .join(labels.select(col("id"), col("comp").as("_old")), "id")
        .filter(col("comp") =!= col("_old")).limit(1).count()
      labels.unpersist()
      labels = jumped
      converged = changed == 0
      it += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"components did not converge in $maxIter rounds — with label " +
        "doubling that needs component diameter > 2^maxIter; the pair " +
        "graph is pathological (check the candidate generator) or " +
        "maxIter was lowered")
    // register the (already persisted, already materialized) result so a
    // long-lived session keeps one live label frame, not one per call
    Par.pinLatest("components.labels", labels)
  }

  /** Near-dup survivors: one document per connected component of the pair
    * graph (the smallest id), plus every document in no pair at all — the
    * end-to-end dedup a training pipeline actually applies after any of
    * the pairwise methods above.
    */
  def survivors(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val removed = components(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** Incremental exact dedup: keep the `incoming` rows whose `textCol`
    * does not appear in `existing` — the dedup-new-crawl-against-prior-
    * snapshots stage of an incremental ingestion pipeline (each crawl
    * deduped against everything already kept, without re-deduping the
    * snapshot).
    *
    * Scale design — the existing snapshot is the 100 TB side and is
    * NEVER SHUFFLED on the default route:
    *   1. one column-pruned scan aggregates its text hashes into a bloom
    *      sketch (partial sketches OR-merge on the driver; size from
    *      `expectedExisting` — pass the snapshot's known doc count; ≤ 0
    *      spends one count() scan);
    *   2. `incoming` keeps only bloom-positive rows as CANDIDATES
    *      ([[graft.functions.BloomMightContain]] — no false negatives,
    *      so bloom-negative rows are definitively new and skip the
    *      confirm entirely);
    *   3. candidates' distinct hashes broadcast into a semi-join that
    *      CONFIRMS which are genuinely present (clearing bloom false
    *      positives with one more snapshot scan, zero snapshot shuffle);
    *   4. `incoming` anti-joins the confirmed hash set (broadcast again
    *      — it is at most the true-duplicate count).
    * When the sketch would exceed `maxBloomBytes` (snapshot hash count
    * past ~10^8) or the CANDIDATE set exceeds `maxBroadcastRows`
    * (incoming mostly redundant: candidates ≈ incoming's distinct
    * hashes), the route falls back to the plain hash anti-join — one
    * 8-byte-key shuffle per side, still never the text payload. The
    * candidate bound is checked BEFORE any broadcast is planned:
    * candidates ⊇ confirmed hits (true dups plus bloom false
    * positives), so bounding candidates bounds both broadcasts, and an
    * over-budget batch never builds either (the one count() that makes
    * the decision rides the pinned candidate cache the happy path
    * reuses; a fallback therefore pays the bloom build — one snapshot
    * scan — plus the candidate materialization that made the decision:
    * the bloom-filtered distinct shuffle over the incoming batch, its
    * pin, and the count). `maxBroadcastRows` is a ROW budget over
    * 8-byte hash keys —
    * the default 4M rows admits a ~32 MB broadcast.
    *
    * Equality premise: matching is on xxhash64(text) — identical to
    * text equality absent a 64-bit collision between distinct texts
    * (~n²/2⁶⁵), the same premise as the hashed shingle rerank
    * (spec-pinned; the q100 DuckDB gate compares against a raw
    * text-equality anti join every round). Null text never matches
    * anything (SQL null semantics both engines share).
    */
  def dedupAgainstCorpus(incoming: DataFrame, existing: DataFrame,
                         textCol: String, expectedExisting: Long = -1L,
                         fpp: Double = 0.03,
                         maxBloomBytes: Long = 64L << 20,
                         maxBroadcastRows: Long = 4L << 20): DataFrame = {
    // xxhash64 hashes a NULL input to the bare seed (the hash family is
    // never-null by design), which would let two null texts "match" —
    // SQL equality semantics say null matches nothing, and the DuckDB
    // text-equality gate agrees. Keep the hash null for null text: null
    // join keys never match, on both routes, in both engines.
    def h(c: Column): Column = when(c.isNotNull, xxhash64(c))
    // collision-proof internal key: `withColumn` would silently replace
    // (and the final drop would then swallow) a caller column named the
    // same, breaking the keeps-every-incoming-column contract
    val hCol = Iterator.from(0).map(i => if (i == 0) "_h" else s"_h$i")
      .find(n => !incoming.columns.contains(n)).get
    val exHash = existing.select(h(col(textCol)).as(hCol))
    val n = if (expectedExisting > 0) expectedExisting else exHash.count()
    if (n == 0) return incoming // empty snapshot: every row is new
    // standard bloom sizing: bits = -n ln(p) / (ln 2)^2
    val bloomBytes =
      (-n * math.log(fpp) / (math.log(2) * math.log(2)) / 8).toLong
    val inHash = incoming.withColumn(hCol, h(col(textCol)))
    val confirmed: Option[DataFrame] =
      if (bloomBytes <= maxBloomBytes) {
        val bf = exHash.filter(col(hCol).isNotNull)
          .stat.bloomFilter(hCol, math.max(n, 1), fpp)
        val bc = incoming.sparkSession.sparkContext.broadcast(bf)
        val candidates = Par.pinLatest("dedup.against.candidates", inHash
          .filter(graft.functions.BloomMightContain(col(hCol), bc))
          .select(hCol).distinct())
        // bound the CANDIDATE set before planning ANY broadcast:
        // candidates ⊇ confirmed hits, so this one check bounds both
        // broadcasts, and a mostly-redundant batch falls back without
        // ever building a corpus-sized exchange (the r13 guard counted
        // the confirmed set — after the candidate broadcast had run)
        if (candidates.count() <= maxBroadcastRows) {
          val hits = Par.pinLatest("dedup.against.hits",
            exHash.join(broadcast(candidates), Seq(hCol), "left_semi")
              .distinct())
          hits.count() // materialize through the pin …
          Par.unpin("dedup.against.candidates", candidates) // … then free
          Some(broadcast(hits)) // hits ⊆ candidates: in budget a fortiori
        } else {
          Par.unpin("dedup.against.candidates", candidates)
          None
        }
      } else None
    confirmed match {
      case Some(hits) => inHash.join(hits, Seq(hCol), "left_anti").drop(hCol)
      case None => inHash.join(exHash, Seq(hCol), "left_anti").drop(hCol)
    }
  }

  /** The MinHash index's parts in the shared [[graft.store.IndexStore]]. */
  private[graft] val MinhashIndex =
    IndexStore.Kind("minhash", "writeMinhashIndex", Seq("sets", "bands"))

  /** On-disk MinHash near-dup index over a corpus snapshot — the
    * NEAR-dup member of the incremental family ([[dedupAgainstCorpus]]
    * is the exact member; the substring span index is the fragment
    * member). The snapshot pays its shingling + signature build ONCE:
    *
    *   - `bands` — one row per (table, min-hash signature, doc id),
    *     the LSH candidate-generation side. Probes equi-join on (t, h).
    *   - `sets` — each doc's SORTED 64-bit shingle hashes
    *     ([[graft.functions.ShingleHashes]]), the exact-rerank side.
    *     Storing them is what lets a probe rerank candidates without
    *     re-shingling (or even re-reading the text of) the snapshot.
    *   - the index meta ([[graft.store.IndexStore]], which also gives
    *     the layout and crash contract) — rows + the (n, numHashTables,
    *     seed) the signatures were built with; probes MUST hash with the
    *     same parameters, so they read them from there.
    *
    * Signature scheme is bit-identical to [[minhashPairs]] (same
    * MinHashSig expression, same xxhash64 shingle keys), so the recall
    * and exactness contracts carry over: candidates require a shared
    * min-hash in >= 1 of `numHashTables` tables (recall 1-(1-J)^k,
    * ~1.0 for the verbatim/near-verbatim duplicates a re-crawl
    * produces), and the rerank makes precision exact at `minJaccard`.
    */
  def writeMinhashIndex(snapshot: DataFrame, textCol: String, idCol: String,
                        dir: String, n: Int = 3, numHashTables: Int = 8,
                        seed: Long = 42): Unit =
      IndexStore.create(snapshot.sparkSession, dir, MinhashIndex) {
    // consumed twice (bands + sets) with divergent plans — persist for
    // the duration of the build, released before returning
    val sh = Par.fanOut(snapshot.select(col(idCol).as("id"),
        col(textCol).as("text")))
      .select(col("id"),
        TextFunctions.distinctWordNGrams(col("text"), n).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .persist()
    sh.select(col("id"),
        graft.functions.ShingleHashes(col("shingles")).as("_h"))
      .write.mode("overwrite").parquet(IndexStore.dataPath(dir, "sets", "base"))
    sh.select(col("id"), posexplode_outer(graft.functions.MinHashSig(
        col("shingles"), numHashTables, seed)))
      .select(col("pos").as("t"), col("col").as("h"), col("id"))
      .filter(col("h").isNotNull)
      .write.mode("overwrite").parquet(IndexStore.dataPath(dir, "bands", "base"))
    val rows = sh.count() // rides the cache
    sh.unpersist(blocking = false)
    List("rows" -> JInt(rows), "n" -> JInt(n),
      "numHashTables" -> JInt(numHashTables), "seed" -> JInt(seed))
  }

  /** Near-dup hits of `incoming` against a [[writeMinhashIndex]]
    * snapshot: `(incoming_id, snapshot_id, est_jaccard)` for every
    * LSH-recalled pair with exact (hashed-shingle) Jaccard >=
    * `minJaccard`. The incremental twin of [[minhashPairs]], with the
    * snapshot-side work amortized into the index.
    *
    * Scale design — the snapshot is the 100 TB side and is NEVER
    * SHUFFLED on the default route:
    *   1. the batch's band signatures (|batch| × numHashTables rows of
    *      (t, h, id)) BROADCAST into a hash join against the `bands/`
    *      scan — candidates stream out of one snapshot scan;
    *   2. candidate pairs dedup (a shuffle over candidates only), and
    *      the candidate SNAPSHOT ids broadcast into a semi-join that
    *      plucks just those docs' hash arrays out of one `sets/` scan;
    *   3. the rerank joins are candidate-bounded on both sides.
    * When the batch signature set or the candidate set exceeds
    * `maxBroadcastRows`, the route falls back to plain shuffle joins —
    * still correct, but the snapshot's 8-byte band keys (and, for the
    * candidates' snapshot ids, the sets arrays) do shuffle; a batch
    * that large is a corpus merge, not a crawl increment, and should
    * consider a fresh [[minhashPairs]] run instead. Both routes are
    * spec-pinned equal.
    */
  def nearDupPairsAgainstCorpus(incoming: DataFrame, dir: String,
                                textCol: String, idCol: String,
                                minJaccard: Double = 0.2,
                                maxBroadcastRows: Long = 4L << 20): DataFrame = {
    val spark = incoming.sparkSession
    val m = IndexStore.meta(spark, dir, MinhashIndex)
    val (n, k, seed) = (m.int("n"), m.int("numHashTables"), m.long("seed"))
    // batch shingles: consumed by the signature build AND the rerank —
    // pin, as minhashPairs pins its shingle frame
    val bsh = Par.pinLatest("minhash.against.batch",
      Par.fanOut(incoming.select(col(idCol).as("_bid"),
          col(textCol).as("text")))
        .select(col("_bid"),
          TextFunctions.distinctWordNGrams(col("text"), n).as("shingles"))
        .filter(size(col("shingles")) > 0))
    val bSig = bsh.select(col("_bid"), posexplode_outer(
        graft.functions.MinHashSig(col("shingles"), k, seed)))
      .select(col("pos").as("t"), col("col").as("h"), col("_bid"))
      .filter(col("h").isNotNull)
    val bands = IndexStore.read(spark, dir, MinhashIndex, "bands")
    // batch-signature budget: |batch| x k rows of 20 bytes — the count
    // rides the pinned cache
    val batchSigRows = bsh.count() * k
    val candRaw =
      if (batchSigRows <= maxBroadcastRows)
        bands.join(broadcast(bSig), Seq("t", "h"))
      else bands.join(bSig, Seq("t", "h"))
    // dedup multi-table collisions — a shuffle over candidates only
    val cand = Par.pinLatest("minhash.against.cand",
      candRaw.select(col("id").as("_sid"), col("_bid")).distinct())
    val nCand = cand.count()
    val sets = IndexStore.read(spark, dir, MinhashIndex, "sets")
    val snapSets =
      if (nCand <= maxBroadcastRows) {
        // candidate snapshot ids (<= nCand, dedup'd) broadcast-semi into
        // the sets scan: one snapshot pass, zero snapshot shuffle, output
        // bounded by the candidate count
        val sids = cand.select(col("_sid")).distinct()
        sets.join(broadcast(sids), sets("id") === sids("_sid"), "left_semi")
      } else sets
    val bH = bsh.select(col("_bid"),
      graft.functions.ShingleHashes(col("shingles")).as("_hb"))
    val out = cand
      .join(snapSets.select(col("id").as("_sid"), col("_h").as("_ha")), "_sid")
      .join(bH, "_bid")
      .withColumn("_inter",
        graft.functions.SortedIntersectCount(col("_ha"), col("_hb")))
      .withColumn("est_jaccard", round(col("_inter") /
        (size(col("_ha")) + size(col("_hb")) - col("_inter")), 6))
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("_bid").as("incoming_id"), col("_sid").as("snapshot_id"),
        col("est_jaccard"))
    out
  }

  /** Incremental NEAR-dup dedup: keep the `incoming` rows with no
    * [[nearDupPairsAgainstCorpus]] hit at `minJaccard` against the
    * snapshot indexed at `dir` — the near-dup analogue of
    * [[dedupAgainstCorpus]] (each crawl deduped against everything
    * already kept, without re-processing the snapshot). Keeps every
    * incoming column; rows whose text yields no shingles (null/short)
    * survive, as they can match nothing — same null contract as the
    * exact route.
    */
  def dedupNearAgainstCorpus(incoming: DataFrame, dir: String,
                             textCol: String, idCol: String,
                             minJaccard: Double = 0.2,
                             maxBroadcastRows: Long = 4L << 20): DataFrame = {
    val dups = nearDupPairsAgainstCorpus(incoming, dir, textCol, idCol,
        minJaccard, maxBroadcastRows)
      .select(col("incoming_id")).distinct()
    incoming.join(dups, incoming(idCol) === dups("incoming_id"), "left_anti")
  }
}
