package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path
import org.json4s.JInt

import graft.functions.WinnowAnchors
import graft.ops.Par
import graft.store.IndexStore

/** A maximal exact duplicated span between two documents: 0-based start
  * offsets in each text (code points) and the span's length in code
  * points. Top-level kernel result type, shared by the codegen'd
  * `ExtendSeeds` expression.
  */
private[graft] case class DupSpan(sa: Int, sb: Int, len: Int)

/** Exact substring-level deduplication — the "dedupe repeated spans, not
  * whole documents" curation step of LLM training pipelines (Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better", ACL'22,
  * which builds a corpus-wide suffix array; reference repo has no
  * substring-level operator — this extends the corpus toolkit).
  *
  * A suffix array is inherently a single-machine global structure, so the
  * distributed re-design uses winnowing fingerprints instead
  * (`WinnowAnchors`): any duplicated span of length >= minLen shares at
  * least one content-selected anchor gram in both copies, so an inverted
  * index on anchor hash yields candidate (docA, posA, docB, posB) seeds,
  * which char-level extension grows to maximal spans. Exact — no recall
  * loss vs the suffix array for spans >= minLen (winnowing guarantee),
  * modulo the optional viral-anchor cap.
  *
  * All positions and lengths count Unicode CODE POINTS (SQL
  * `substr`/`length` semantics) end to end — winnowing, extension, and
  * the island/segment reassembly agree on the same unit, so offsets are
  * exact for supplementary-plane text too.
  *
  * Scale design: anchors keep ~2/(w+1) of gram positions (~4% at the
  * default minLen=50/k=16), the candidate join is an equi-join on the
  * anchor hash (shuffled hash join, never a cross join), and extension
  * is TWO-PHASE (`duplicateSpans`): candidate pairs are dominated by
  * shared grams that never grow to minLen (measured ~700× the true
  * span pairs at an sf100-equivalent corpus), so phase 1 settles every
  * seed inside ±minLen slices cut around each anchor — bounded rows,
  * never a full document on a per-pair row — and only pairs holding a
  * run that provably leaves its slice escalate to full-text extension
  * (one fused `ExtendSeeds` call per pair over both texts, covered-seed skip) — bounded
  * by true LONG duplication, not collision count. `maxAnchorDf` drops
  * anchors shared by more docs than the cap — the standard
  * viral-shingle/boilerplate guard at 100 TB (off by default: exactness
  * for the oracle; set ~1000 in production).
  *
  * `maxPosPerHash` bounds WITHIN-doc anchor multiplicity (first n
  * positions per hash per doc, applied inside `WinnowAnchors` before the
  * explode — no extra shuffle): a hash at p positions in doc A and q in
  * doc B otherwise lands p*q packed seeds in one pair's `collect_list`,
  * so a single ~1 MB "ababab…" spam pair (~57k same-hash anchors per
  * side) would materialize billions of longs in the aggregation buffer —
  * executor OOM before extension's covered-seed skip can help
  * (`maxAnchorDf` caps CROSS-doc frequency only). With the cap, per-pair
  * seeds <= cap * min(side anchor count) and verbatim copies still cap
  * to identical surviving positions (prefix rule), so full-copy
  * detection is unaffected. Default 64 — the testdata's max within-doc
  * 16-gram multiplicity is 3 (measured, both SFs), so the oracle path
  * stays exact with a 20x margin; only degenerate internal repetition
  * (the OOM case itself) can lose spans.
  */
object SubstringDedup {

  /** See class doc — within-doc per-hash anchor position cap. */
  val DefaultMaxPosPerHash = 64

  /** All maximal duplicated spans of length >= `minLen` chars between
    * distinct document pairs: (doc_a, doc_b, start_a, start_b, span_len)
    * with doc_a < doc_b and 1-BASED code-point starts (SQL `substr`
    * positions). `k` is the fingerprint gram size; the winnow window is
    * derived as w = minLen - k + 1 so the guarantee lands exactly on
    * `minLen`.
    */
  /** Corpus-bytes threshold above which `duplicateSpans`
    * auto-routes to two-phase sliced extension (see the route comment in
    * the body). The real cost driver is the PAIR-TEXT frame (candidate
    * pairs × both full documents): while it fits executor memory the
    * single-phase route is pure in-memory CPU; once it spills, two-phase
    * wins and the gap grows without bound. Pair count is unknowable
    * pre-plan, so the router is a corpus-bytes proxy with MEASURED
    * brackets.
    *
    * RECALIBRATED at 16 MB after the r12 kernel fusion: the pre-fusion
    * brackets ("single wins 3–5× at 48–320 MB") were dominated by the
    * slice machinery's per-seed UDF marshalling, which the codegen'd
    * `AnchorSlices`/`SliceExtend` expressions removed. Post-fusion
    * measurements, most decisive first: on the REAL testdata corpus
    * shape two-phase wins **3.3× at 25 MB** (q83 single 10.9 s vs q98
    * two-phase 3.3 s, same sf10 bench run, min-of-2) and 14% at the
    * 255 MB decade-3 corpus (222 → 192 s, 5M docs); on the adversarial
    * 4 KB-doc LongDocRejectProbe corpora two-phase wins 1.6× at 160 MB
    * (13.7 → 8.7 s) and 48–96 MB is a wash (both ~1.5–2.5 s, ordering
    * flips run to run). Below ~16 MB every measured corpus finishes
    * sub-second either way, so the route choice is immaterial there
    * and single-phase keeps its minimal-shuffle plan (3 fewer
    * exchanges — the right default for trivial corpora and the
    * exactness-mode oracle runs); everything larger takes the route
    * that is equal-or-faster in every post-fusion measurement AND the
    * only memory-safe one at 100 TB. Callers who know their pair
    * density pass `twoPhase = Some(...)`.
    */
  private[graft] val TwoPhaseBytesBudget: Long = 16L << 20

  /** Auto-route decision for [[duplicateSpans]]: two-phase iff the
    * corpus text bytes exceed `budget` ([[TwoPhaseBytesBudget]] in
    * production; injectable so specs pin both sides of the threshold
    * without half-GB fixtures).
    *
    * Bytes are MEASURED when the caller says the frame is a pinned
    * DERIVED plan (`measured = true`), never taken from Catalyst plan
    * stats there: the optimizer's multiplicative estimate is off by
    * ~1e5 on derived frames (a ~250 KB groupBy+join survivor frame —
    * q88's input — estimates 23.6 GB), which force-routed EVERY derived
    * corpus two-phase regardless of its true size — a route decision
    * must not ride a number that wrong, whatever the current
    * crossover's shape (LongDocRejectProbe). The pinned-derived frame's
    * one narrow sum(octet_length) agg both materializes the cache all
    * three downstream consumers need anyway and returns exact bytes.
    * With `measured = false` (a bare scan+filter+project) plan stats
    * are used: those derive from parquet file sizes (accurate within
    * compression — q83's base table estimates 255 KB for a 255 KB
    * corpus), and a measured agg there would pay an extra full
    * text-column scan of a possibly-100 TB table for a decision the
    * scan stats already make correctly.
    *
    * `measured` is an EXPLICIT caller flag, not inferred from
    * `df.storageLevel`: any caller-persisted frame satisfies a
    * storage-level test — a user-cached scan-only corpus (the 100 TB
    * shape this operator documents) would then trigger an eager full
    * text-column aggregation plus cache materialization at
    * plan-construction time just to pick a route. Only duplicateSpans
    * itself knows whether it pinned the frame BECAUSE it was derived.
    */
  private[graft] def routeTwoPhase(texts: DataFrame, measured: Boolean,
      textCol: String = "text",
      budget: Long = TwoPhaseBytesBudget): Boolean = {
    val bytes: BigInt =
      if (measured)
        Option(texts.agg(sum(octet_length(col(textCol)))).first().get(0))
          .map(v => BigInt(v.asInstanceOf[Number].longValue))
          .getOrElse(BigInt(0))
      else texts.queryExecution.optimizedPlan.stats.sizeInBytes
    bytes > BigInt(budget)
  }

  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     minLen: Int = 50, k: Int = 16,
                     maxAnchorDf: Int = Int.MaxValue,
                     maxPosPerHash: Int = DefaultMaxPosPerHash,
                     twoPhase: Option[Boolean] = None): DataFrame = {
    require(minLen > k, s"minLen ($minLen) must exceed gram size k ($k)")
    val w = minLen - k + 1
    // docs shorter than minLen cannot hold a qualifying span; the filter
    // also guarantees every kept doc emits >= 1 window of anchors.
    // Pinned WHEN DERIVED: this frame feeds three divergent consumers
    // (the winnowing anchor scan and both sides of the texts join in
    // seedsToSpans) — an unpersisted derived input (q88 passes a
    // groupBy+join survivor frame) re-executes its whole upstream once
    // per consumer. A bare table scan stays unpinned: re-scanning
    // parquet three times is cheaper than caching corpus-scale text.
    val proj = df.select(col(idCol).cast("long").as("doc"),
        col(textCol).as("text"))
      .filter(length(col("text")) >= minLen)
    // derived-ness computed ONCE and threaded to both the pin decision
    // and the route's measured-vs-stats choice: inferring it downstream
    // from storageLevel would misfire on caller-persisted bare scans.
    val derived = Par.plansExchange(proj)
    val texts = if (derived) Par.pinLatest("substring.texts", proj) else proj
    val an = Par.fanOut(texts).select(col("doc"),
        explode(WinnowAnchors(col("text"), k, w, maxPosPerHash)).as("a"))
      .select(col("doc"), col("a.pos").as("pos"), col("a.hash").as("h"))
    val index = capViral(an, "doc", maxAnchorDf)
    // Inverted-index self-join on the anchor hash. shuffle_hash for the
    // same reason as the shingle joins: Catalyst sizes the sides from the
    // parquet scan and would broadcast the whole exploded index; both
    // sides share one canonical plan (ReusedExchange computes it once).
    val seedRows = index.as("a").hint("shuffle_hash")
      .join(index.as("b"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))

    // ROUTE (twoPhase = None = auto): two-phase iff the corpus text
    // bytes exceed TwoPhaseBytesBudget — the regime where full texts
    // stop being cheap to join per pair. Bytes are MEASURED for derived
    // inputs (see routeTwoPhase), never Catalyst's multiplicative guess.
    val useTwoPhase = twoPhase.getOrElse(
      routeTwoPhase(texts, measured = derived))
    // Single-phase route: every candidate pair joins BOTH FULL TEXTS and
    // extends all its seeds in one fused ExtendSeeds call — pure in-memory CPU below
    // the budget, and the equivalence oracle for specs/probes: the
    // two-phase route below is bit-identical by construction and
    // spec-pinned against this path on randomized corpora.
    if (!useTwoPhase) {
      val cand = seedRows
        .select(col("doc_a"), col("doc_b"),
          packedSeed(col("pa"), col("pb")).as("seed"))
        .groupBy("doc_a", "doc_b")
        .agg(collect_list(col("seed")).as("seeds"))
      return seedsToSpans(cand,
        texts.select(col("doc").as("doc_a"), col("text").as("ta")),
        texts.select(col("doc").as("doc_b"), col("text").as("tb")),
        "doc_a", "doc_b", "start_a", "start_b", k, minLen,
        broadcastTextsB = false)
    }

    // TWO-PHASE EXTENSION (default). Candidate pairs are dominated by
    // FALSE matches — shared 16-grams (boilerplate) that never grow to
    // minLen: measured at the sf100-equivalent corpus, 176.5M candidate
    // pairs carry only 254k true spans (~700×). The single-phase route
    // above converts both full texts to code-point arrays per pair —
    // the operator's dominant constant, and all of it to reject one
    // 16-gram; its cost scales with DOCUMENT LENGTH × collision count.
    // Phase 1 instead extends every seed inside ±minLen SLICES cut
    // around each anchor (bounded rows: k + 2·minLen code points — a
    // constant, independent of document length), which settles each
    // seed exactly unless the run provably leaves its slice; only pairs
    // holding such a too-long-for-the-slice run — bounded by TRUE long
    // duplication, not by collision count — escalate to the full-text
    // extension. Output is bit-identical to the single-phase route
    // (spec-pinned equivalence on randomized corpora): phase-1 spans are
    // per-seed deterministic (distinct collapses same-run seeds),
    // escalated pairs DISCARD their phase-1 rows and recompute whole.
    val S = minLen
    // ALL of a doc's slices in ONE call per document: the text joins per
    // DOC (never per anchor, never per pair) and is code-point-converted
    // exactly once — strictly less text work than the single-phase route
    // pays for any doc participating in even one candidate pair. A
    // per-anchor text join here would just move the blowup (measured:
    // 2.6M anchor rows × 4 KB texts = 10 GB materialized on a corpus
    // whose seeds needed 0.3 GB of slices). AnchorSlices / SliceExtend
    // are codegen'd expressions (r12: the former UDFs' exact kernels,
    // now inside whole-stage codegen — no boxed Row marshalling on the
    // per-seed hot path).
    val sliceTbl = index.groupBy("doc")
      .agg(collect_list(col("pos")).as("ps"))
      .join(texts, "doc")
      .select(col("doc"), explode(graft.functions.AnchorSlices(
        col("text"), col("ps"), k, S)).as("s"))
      .select(col("doc"), col("s.pos").as("pos"), col("s.off").as("off"),
        col("s.dlen").as("dlen"), col("s.sl").as("sl"))
    // thin seed rows join the slice table per side (keyed by (doc, pos),
    // slices ~116 code points) — the full texts never ride a per-pair row
    val verdicts = Par.pinLatest("substring.verdicts", seedRows
      .join(sliceTbl.select(col("doc").as("doc_a"), col("pos").as("pa"),
        col("off").as("offA"), col("dlen").as("dlenA"), col("sl").as("slA")),
        Seq("doc_a", "pa"))
      .join(sliceTbl.select(col("doc").as("doc_b"), col("pos").as("pb"),
        col("off").as("offB"), col("dlen").as("dlenB"), col("sl").as("slB")),
        Seq("doc_b", "pb"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
        graft.functions.SliceExtend(col("slA"), col("offA"), col("dlenA"),
          col("pa"), col("slB"), col("offB"), col("dlenB"), col("pb"),
          k, minLen).as("v")))
    val esc = verdicts.filter(col("v")(0) === SliceEscalate)
      .select("doc_a", "doc_b").distinct()
    val phase1 = verdicts.filter(col("v")(0) === SliceSpan)
      .join(esc, Seq("doc_a", "doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b"),
        (col("v")(1) + 1).cast("int").as("start_a"),
        (col("v")(2) + 1).cast("int").as("start_b"),
        col("v")(3).cast("int").as("span_len"))
      .distinct()
    val escSeeds = verdicts
      .join(esc, Seq("doc_a", "doc_b"), "left_semi")
      .select(col("doc_a"), col("doc_b"),
        packedSeed(col("pa"), col("pb")).as("seed"))
      .groupBy("doc_a", "doc_b")
      .agg(collect_list(col("seed")).as("seeds"))
    val phase2 = seedsToSpans(escSeeds,
      texts.select(col("doc").as("doc_a"), col("text").as("ta")),
      texts.select(col("doc").as("doc_b"), col("text").as("tb")),
      "doc_a", "doc_b", "start_a", "start_b", k, minLen,
      broadcastTextsB = false)
    phase1.unionByName(phase2)
  }

  /** Substring-level benchmark decontamination — q71's n-gram collision
    * scan at SPAN granularity: every maximal span of length >= minLen
    * that a corpus document shares verbatim with a benchmark document.
    * Same anchor->extend machinery as `duplicateSpans`, but the benchmark
    * side is tiny relative to a 100 TB corpus, so its anchor index is
    * BROADCAST — the corpus is scanned once, winnowed in place, and
    * hash-joined with no shuffle of corpus-derived rows before the pair
    * aggregation, whose input is bounded by true collisions. The viral-
    * anchor cap (off by default) applies to the MATCHED subset only —
    * corpus anchors absent from the benchmark never join, so the cap
    * aggregation runs over collisions, not the corpus.
    */
  def crossSpans(corpus: DataFrame, bench: DataFrame,
                 textCol: String, idCol: String,
                 minLen: Int = 50, k: Int = 16,
                 maxAnchorDf: Int = Int.MaxValue,
                 maxPosPerHash: Int = DefaultMaxPosPerHash): DataFrame = {
    require(minLen > k, s"minLen ($minLen) must exceed gram size k ($k)")
    val w = minLen - k + 1
    def texts(df: DataFrame, name: String) =
      df.select(col(idCol).cast("long").as(name), col(textCol).as("text"))
        .filter(length(col("text")) >= minLen)
    def anchorsOf(df: DataFrame, name: String) =
      df.select(col(name),
          explode(WinnowAnchors(col("text"), k, w, maxPosPerHash)).as("a"))
        .select(col(name), col("a.pos").as(s"${name}_pos"), col("a.hash").as("h"))
    val cTexts = texts(corpus, "corpus_id")
    val bTexts = texts(bench, "bench_id")
    val matched = anchorsOf(Par.fanOut(cTexts), "corpus_id")
      .join(broadcast(anchorsOf(bTexts, "bench_id")), "h")
    val cand = capViral(matched, "corpus_id", maxAnchorDf)
      .select(col("corpus_id"), col("bench_id"),
        packedSeed(col("corpus_id_pos"), col("bench_id_pos")).as("seed"))
      .groupBy("corpus_id", "bench_id")
      .agg(collect_list(col("seed")).as("seeds"))
    seedsToSpans(cand,
      cTexts.withColumnRenamed("text", "ta"),
      bTexts.withColumnRenamed("text", "tb"),
      "corpus_id", "bench_id", "start_corpus", "start_bench", k, minLen,
      broadcastTextsB = true)
  }

  /** The span index's parts in the shared [[graft.store.IndexStore]]. */
  private[graft] val SpanIndex =
    IndexStore.Kind("span", "writeSpanIndex", Seq("anchors", "texts"))

  /** Materialize a corpus's winnowing anchors + texts as an ON-DISK SPAN
    * INDEX — the INCREMENTAL-dedup shape at 100 TB: each incoming crawl
    * batch probes the index (`spansAgainstIndex`) without re-winnowing
    * the corpus, then joins it (`appendToSpanIndex`) so later batches
    * dedup against corpus + all prior batches. The anchor index is
    * ~2/(w+1) of gram positions x 20 bytes (~1% of corpus bytes at the
    * defaults), so a full anchor scan per batch is cheap by
    * construction; the texts side is one columnar (id, text) scan per
    * probe, with only COLLIDING docs surviving the join into the
    * extension stage.
    *
    * Layout and crash contract: [[graft.store.IndexStore]]. The meta's
    * minLen/k/maxPosPerHash are REUSED by probe and append, so
    * mixed-parameter indexes cannot happen. Batch ids must be unique
    * (the probe's self-pair guard also relies on it).
    */
  def writeSpanIndex(df: DataFrame, textCol: String, idCol: String,
                     dir: String, minLen: Int = 50, k: Int = 16,
                     maxPosPerHash: Int = DefaultMaxPosPerHash): Unit = {
    require(minLen > k, s"minLen ($minLen) must exceed gram size k ($k)")
    IndexStore.create(df.sparkSession, dir, SpanIndex) {
      writeBatch(df, textCol, idCol, dir, "base", minLen, k, maxPosPerHash)
      List("minLen" -> JInt(minLen), "k" -> JInt(k),
        "maxPosPerHash" -> JInt(maxPosPerHash))
    }
  }

  /** Add a crawl batch to an existing span index. `batchId` names the
    * batch — reuse the SAME id when retrying a failed append
    * (overwrite-idempotent); a new id for each new batch. Each batch
    * adds to every probe's scan; [[compactSpanIndex]] merges them.
    */
  def appendToSpanIndex(df: DataFrame, textCol: String, idCol: String,
                        dir: String, batchId: String): Unit = {
    val spark = df.sparkSession
    val (minLen, k, cap) = indexParams(spark, dir)
    IndexStore.append(spark, dir, SpanIndex, batchId) {
      writeBatch(df, textCol, idCol, dir, batchId, minLen, k, cap)
    }
  }

  private def writeBatch(df: DataFrame, textCol: String, idCol: String,
                         dir: String, batchId: String,
                         minLen: Int, k: Int, maxPosPerHash: Int): Unit = {
    val w = minLen - k + 1
    val texts = df.select(col(idCol).cast("long").as("doc"),
        col(textCol).as("text"))
      .filter(length(col("text")) >= minLen)
    Par.fanOut(texts).select(col("doc"),
        explode(WinnowAnchors(col("text"), k, w, maxPosPerHash)).as("a"))
      .select(col("doc"), col("a.pos").as("pos"), col("a.hash").as("h"))
      .write.mode("overwrite").parquet(IndexStore.dataPath(dir, "anchors", batchId))
    texts.write.mode("overwrite").parquet(IndexStore.dataPath(dir, "texts", batchId))
  }

  /** Compact all live batches of a span index into ONE batch named
    * `newBatchId`. Pure maintenance — the probe-visible index content is
    * unchanged (spec-pinned) — but each append adds a batch, and at
    * crawl cadence the probe's per-batch parquet scans accumulate into a
    * many-small-files problem (1000 appends = 1000 file listings and
    * tiny row groups per probe). Compaction rewrites the union into
    * size-targeted files (~128 MB via `coalesce` — a split merge, no
    * shuffle) so probe scan cost tracks index BYTES again, not append
    * COUNT.
    *
    * Crash contract: [[graft.store.IndexStore]]; retry with the same
    * `newBatchId`, which must be fresh (never reused for an append).
    */
  def compactSpanIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, newBatchId: String): Unit =
    IndexStore.compact(spark, dir, SpanIndex, newBatchId)(
      rewriteSpans(spark, dir, newBatchId))

  /** The span compaction's rewrite: each part of the live batches
    * coalesced into ~128 MB files of batch `newId`. */
  private[graft] def rewriteSpans(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, newId: String)
                                 (live: Seq[String]): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    SpanIndex.parts.foreach { part =>
      val bytes = live.map(id =>
        fs.getContentSummary(new Path(IndexStore.dataPath(dir, part, id))).getLength).sum
      IndexStore.read(spark, dir, SpanIndex, part, live)
        .coalesce(math.max(1, math.ceil(bytes / (128.0 * (1 << 20))).toInt))
        .write.mode("overwrite").parquet(IndexStore.dataPath(dir, part, newId))
    }
  }

  private def indexParams(spark: org.apache.spark.sql.SparkSession,
                          dir: String): (Int, Int, Int) = {
    val m = IndexStore.meta(spark, dir, SpanIndex)
    (m.int("minLen"), m.int("k"), m.int("maxPosPerHash"))
  }

  /** All maximal spans >= the INDEX's minLen between an incoming batch
    * and the indexed corpus: (corpus_id, batch_id, start_corpus,
    * start_batch, span_len). The batch side is winnowed in place with the
    * index's own params and BROADCAST into the anchor-index scan — no
    * index-side shuffle before the collision-bounded pair aggregation;
    * only colliding docs' texts survive the texts join (the scan itself
    * is columnar and cannot skip rows by join key). Batch-internal
    * duplicates are NOT reported (run `duplicateSpans` on the batch for
    * those, then `appendToSpanIndex`).
    */
  def spansAgainstIndex(batch: DataFrame, textCol: String, idCol: String,
                        dir: String,
                        maxBatchBytes: Long = 1L << 30): DataFrame = {
    val spark = batch.sparkSession
    val (minLen, k, cap) = indexParams(spark, dir)
    val w = minLen - k + 1
    val live = IndexStore.live(spark, dir)
    val bTexts = batch
      .select(col(idCol).cast("long").as("batch_id"), col(textCol).as("text"))
      .filter(length(col("text")) >= minLen)
    // the batch side is BROADCAST (anchors and texts) — guard against a
    // caller feeding a corpus-sized frame where a crawl batch belongs, so
    // the failure is this message instead of an opaque broadcast OOM.
    // octet_length, NOT length: length() counts code points, and CJK text
    // stores 3 bytes per code point — a code-point guard under-measures
    // exactly the corpora most likely to blow the broadcast. The ×2 is
    // headroom for the anchor side and broadcast object overhead.
    val bBytes = Option(bTexts
      .agg(sum(octet_length(col("text")).cast("long"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    require(bBytes * 2 <= maxBatchBytes,
      s"batch is ~$bBytes UTF-8 text bytes (×2 headroom > $maxBatchBytes): " +
        "spansAgainstIndex broadcasts the batch — probe in smaller " +
        "batches (or raise maxBatchBytes)")
    val bAnchors = bTexts.select(col("batch_id"),
        explode(WinnowAnchors(col("text"), k, w, cap)).as("a"))
      .select(col("batch_id"), col("a.pos").as("bpos"), col("a.hash").as("h"))
    val cand = IndexStore.read(spark, dir, SpanIndex, "anchors", live)
      .join(broadcast(bAnchors), "h")
      // ids share ONE space across index and batches (append merges
      // them): without the self-pair guard, re-probing an already-
      // appended batch (at-least-once retry) would report every doc as
      // a full-length duplicate of itself
      .filter(col("doc") =!= col("batch_id"))
      .select(col("doc").as("corpus_id"), col("batch_id"),
        packedSeed(col("pos"), col("bpos")).as("seed"))
      .groupBy("corpus_id", "batch_id")
      .agg(collect_list(col("seed")).as("seeds"))
    seedsToSpans(cand,
      IndexStore.read(spark, dir, SpanIndex, "texts", live)
        .select(col("doc").as("corpus_id"), col("text").as("ta")),
      bTexts.withColumnRenamed("text", "tb"),
      "corpus_id", "batch_id", "start_corpus", "start_batch", k, minLen,
      broadcastTextsB = true)
  }

  /** Viral-anchor document-frequency cap: the hot list (output = only
    * viral hashes) is tiny and broadcast into a left_anti, same plan as
    * the jaccard shingle cap — the index itself is never shuffled for the
    * cap. The persisted index feeds two divergent plans (the hot-list
    * aggregate and the surviving join side) and is left to Spark's LRU —
    * an eager unpersist would re-run the winnowing scan on the lazily
    * returned result (same documented trade as `Dedup`'s shingle cap).
    */
  private def capViral(index: DataFrame, docCol: String,
                       maxAnchorDf: Int): DataFrame =
    if (maxAnchorDf == Int.MaxValue) index
    else {
      val idx = graft.ops.Par.pinLatest("substring.capIndex", index)
      val hot = idx.groupBy("h")
        .agg(countDistinct(docCol).as("_df"))
        .filter(col("_df") > maxAnchorDf).select("h")
      idx.join(broadcast(hot), Seq("h"), "left_anti")
    }

  /** Pack an anchor-pair seed into one long so the per-pair collect_list
    * stays a flat array<bigint> (one primitive word per seed, no struct rows).
    */
  private def packedSeed(posA: Column, posB: Column): Column =
    shiftleft(posA.cast("long"), 32).bitwiseOR(posB.cast("long"))

  /** Shared tail of both span pipelines: texts join back once per
    * candidate PAIR (not per seed) — extension is one codegen'd ExtendSeeds call per pair
    * over both full texts; docs are bounded (KB-MB), pair count is
    * bounded by true duplication + the df cap. `broadcastTextsB` marks
    * the benchmark side of the cross variant.
    */
  private def seedsToSpans(cand: DataFrame,
                           textsA: DataFrame, textsB: DataFrame,
                           idA: String, idB: String,
                           startA: String, startB: String,
                           k: Int, minLen: Int,
                           broadcastTextsB: Boolean): DataFrame = {
    val withTexts = cand
      .join(textsA, idA)
      .join(if (broadcastTextsB) broadcast(textsB) else textsB, idB)
    withTexts
      .select(col(idA), col(idB),
        explode(graft.functions.ExtendSeeds(col("ta"), col("tb"),
          col("seeds"), k, minLen)).as("s"))
      .select(col(idA), col(idB),
        (col("s.sa") + 1).cast("int").as(startA),
        (col("s.sb") + 1).cast("int").as(startB),
        col("s.len").cast("int").as("span_len"))
  }

  /** Grow every candidate seed to its maximal common run and keep the
    * distinct maximal spans of length >= minLen. Code-point equality at
    * the seed gram re-verifies the hash match (collision guard).
    *
    * Seeds already COVERED by a run found earlier on the same diagonal
    * are skipped before extending: a verbatim copy of an L-char doc
    * yields ~2L/(w+1) seeds that all live on one diagonal, and naive
    * re-extension would cost O(L) each — O(L²/w) for the pair, quadratic
    * exactly in dedup's most common case. With the containment check the
    * first seed walks the run once and the rest are O(log n) lookups;
    * it also subsumes duplicate-span suppression (same run -> contained
    * -> skipped; distinct diagonals can't produce the same (sa, sb)).
    */
  private[graft] def extendSeeds(ta: String, tb: String, seeds: Seq[Long],
                                 k: Int, minLen: Int): Seq[DupSpan] =
    extendSeeds(ta.codePoints().toArray, tb.codePoints().toArray,
      seeds, k, minLen)

  private[graft] val SliceReject = 0
  private[graft] val SliceSpan = 1
  private[graft] val SliceEscalate = 2

  /** Phase-1 per-seed extension over ±`minLen` SLICES instead of full
    * documents (see `duplicateSpans`): verify the seed gram and extend
    * to the maximal common run, all within the two slices. Returns
    * `[kind, start_a, start_b, len]` (0-based global code-point starts):
    *
    *  - [[SliceSpan]]: BOTH run boundaries are certain — each stop is a
    *    character mismatch or a document boundary visible in the slice —
    *    and the run reaches `minLen`. By determinism of maximal
    *    extension, every seed of the same run returns the identical
    *    span, so a downstream `distinct` reproduces exactly
    *    `extendSeeds`' one-span-per-run output.
    *  - [[SliceReject]]: certain boundaries but the run is shorter than
    *    `minLen` (the boilerplate case — a shared 16-gram that never
    *    grows), or the gram bytes differ (hash collision). A run that
    *    never left the slice cannot reach `minLen` outside it: the slice
    *    covers `minLen` characters beyond the gram on each side.
    *  - [[SliceEscalate]]: the run touched a slice edge that is NOT a
    *    document boundary — the true boundary is outside the slice, so
    *    the pair must re-run full-text extension (`extendSeeds`).
    *
    * `off*` is each slice's global start offset, `dlen*` the document's
    * code-point length (slice edge == doc edge iff off == 0 on the left,
    * off + sliceLen == dlen on the right).
    */
  private[graft] def extendInSlice(
      slA: String, offA: Int, dlenA: Int, pa: Int,
      slB: String, offB: Int, dlenB: Int, pb: Int,
      k: Int, minLen: Int): Array[Int] = {
    val ta = slA.codePoints().toArray
    val tb = slB.codePoints().toArray
    val ia = pa - offA; val ib = pb - offB
    // defensive: malformed offsets re-route to the exact full path
    if (ia < 0 || ia + k > ta.length || ib < 0 || ib + k > tb.length)
      return Array(SliceEscalate, 0, 0, 0)
    var i = 0
    while (i < k) { // gram verify — the hash-collision guard
      if (ta(ia + i) != tb(ib + i)) return Array(SliceReject, 0, 0, 0)
      i += 1
    }
    var sa = ia; var sb = ib
    while (sa > 0 && sb > 0 && ta(sa - 1) == tb(sb - 1)) { sa -= 1; sb -= 1 }
    // a stop is REAL iff it is a mismatch (both cursors still inside) or
    // a document boundary; a slice edge that is not a doc edge hides the
    // true boundary
    val leftReal = (sa > 0 && sb > 0) ||
      (sa == 0 && offA == 0) || (sb == 0 && offB == 0)
    var ea = ia + k; var eb = ib + k
    while (ea < ta.length && eb < tb.length && ta(ea) == tb(eb)) {
      ea += 1; eb += 1
    }
    val rightReal = (ea < ta.length && eb < tb.length) ||
      (ea == ta.length && offA + ta.length == dlenA) ||
      (eb == tb.length && offB + tb.length == dlenB)
    if (!leftReal || !rightReal) return Array(SliceEscalate, 0, 0, 0)
    val len = ea - sa
    if (len < minLen) Array(SliceReject, 0, 0, 0)
    else Array(SliceSpan, offA + sa, offB + sb, len)
  }

  private[graft] def extendSeeds(ta: Array[Int], tb: Array[Int],
                                 seeds: Seq[Long],
                                 k: Int, minLen: Int): Seq[DupSpan] = {
    // diag -> runs found on it, as a sorted map start -> end (runs on one
    // diagonal are disjoint, so floor-entry containment is exact)
    val byDiag = scala.collection.mutable.HashMap
      .empty[Int, java.util.TreeMap[Int, Int]]
    val out = scala.collection.mutable.ArrayBuffer.empty[DupSpan]
    seeds.foreach { packed =>
      val pa = (packed >>> 32).toInt
      val pb = (packed & 0xFFFFFFFFL).toInt
      val runs = byDiag.getOrElseUpdate(pa - pb, new java.util.TreeMap())
      val floor = runs.floorEntry(pa)
      val covered = floor != null && pa + k <= floor.getValue
      var ok = !covered && pa + k <= ta.length && pb + k <= tb.length
      var i = 0
      while (ok && i < k) {
        if (ta(pa + i) != tb(pb + i)) ok = false
        i += 1
      }
      if (ok) {
        var sa = pa; var sb = pb
        while (sa > 0 && sb > 0 && ta(sa - 1) == tb(sb - 1)) {
          sa -= 1; sb -= 1
        }
        var ea = pa + k; var eb = pb + k
        while (ea < ta.length && eb < tb.length &&
          ta(ea) == tb(eb)) { ea += 1; eb += 1 }
        runs.put(sa, ea)
        val len = ea - sa
        if (len >= minLen) out += DupSpan(sa, sb, len)
      }
    }
    out.toSeq
  }

  /** Classic interval union as a window-island pass (no UDF, no driver
    * work): a row starts a new island iff its start clears the running
    * max end of everything before it. Input (doc, s, e) half-open
    * 1-based; output one row per merged island (doc, is, ie).
    */
  private def mergeIslands(ivals: DataFrame,
                           keys: Seq[String] = Seq("doc")): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("s"), col("e"))
    val prevMax = max(col("e"))
      .over(byKey.rowsBetween(Window.unboundedPreceding, -1))
    ivals
      .withColumn("_new", when(prevMax.isNull || col("s") > prevMax, 1)
        .otherwise(0))
      .withColumn("_isl", sum(col("_new")).over(byKey))
      .groupBy((keys :+ "_isl").map(col): _*)
      .agg(min(col("s")).as("is"), max(col("e")).as("ie"))
      .drop("_isl")
  }

  /** The curation step that CONSUMES the spans (Lee et al. §4: keep one
    * occurrence of each duplicated span, drop the rest): every span is
    * cut from its pair's HIGHER id — the lower id keeps the text, so one
    * canonical copy always survives and the rule needs no global
    * coordination (pair-local, associative under overlap-merging).
    * Returns every doc: (doc_id, text_cleaned, n_removed) — clean docs
    * pass through verbatim.
    *
    * The cut itself is pure codegen'd built-ins: merged removal islands
    * per doc (window pass), complement segments via `zip_with` over
    * shifted boundaries, `substr` + `array_join` to reassemble — no UDF,
    * no driver work; island offsets are code points, the unit `substr`
    * slices in, so the cut is exact for any text.
    *
    * `snapToWords = true` expands each cut outward to whole-word
    * boundaries before cutting (a mid-word boundary would leave a
    * partial-word stump — garbage tokens in training data); the boundary
    * words are partly duplicated anyway, so expansion is the
    * conservative direction. Exact char-level mode (the q85 oracle)
    * stays the default.
    */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                           minLen: Int = 50, k: Int = 16,
                           maxAnchorDf: Int = Int.MaxValue,
                           snapToWords: Boolean = false,
                           maxPosPerHash: Int = DefaultMaxPosPerHash): DataFrame = {
    val spans = duplicateSpans(df, textCol, idCol, minLen, k, maxAnchorDf,
      maxPosPerHash)
    val raw = mergeIslands(
      spans.select(col("doc_b").as("doc"), col("start_b").as("s"),
        (col("start_b") + col("span_len")).as("e")))
    val cuts =
      if (!snapToWords) raw
      else {
        // A cut that starts or ends mid-word leaves a partial-word stump
        // in the cleaned text — garbage tokens downstream. Snap each cut
        // OUTWARD to whole-word boundaries (the boundary word is partly
        // duplicated anyway): start moves left to its word's start (chars
        // kept before the cut = everything through the last whitespace),
        // end moves right past the rest of its word. A boundary snaps
        // ONLY when it actually falls mid-word — both adjacent chars
        // non-space — else a span starting/ending exactly on whitespace
        // would swallow a fully-intact, 0%-duplicated neighbor word.
        // Expansion can fuse adjacent cuts, so islands are re-merged.
        val texts = df.select(col(idCol).cast("long").as("doc"),
          col(textCol).as("_t"))
        // (?U) = UNICODE_CHARACTER_CLASS on every \s/\S: Java regex
        // classes are ASCII by default, so NBSP (U+00A0), thin space
        // (U+2009) and ideographic space (U+3000) — pervasive in the
        // HTML-derived corpora this operator targets — would count as
        // WORD characters and the snap would expand straight across
        // them, deleting the fully-intact neighbor word the both-
        // non-space guard exists to protect.
        def nonSpace(c: Column) = c.rlike("(?U)^\\S$")
        val snapped = raw.join(texts, "doc")
          .select(col("doc"), col("_t"),
            when(col("is") > 1 &&
                nonSpace(col("_t").substr(col("is") - 1, lit(1))) &&
                nonSpace(col("_t").substr(col("is"), lit(1))),
              length(regexp_extract(
                col("_t").substr(lit(1), col("is") - 1),
                "(?sU)^(.*\\s)", 1)) + 1) // (?s): last \s across lines
              .otherwise(col("is")).as("s"),
            when(nonSpace(col("_t").substr(col("ie") - 1, lit(1))) &&
                nonSpace(col("_t").substr(col("ie"), lit(1))),
              col("ie") + length(regexp_extract(
                col("_t").substr(col("ie"), length(col("_t"))),
                "(?U)^(\\S*)", 1)))
              .otherwise(col("ie")).as("e"))
        // un-fuse: a cut whose kept neighbors are BOTH word chars would
        // glue them into one garbage token ("two"+"four" -> "twofour");
        // post-snap that can only happen when the cut itself starts with
        // whitespace, so donate that first space back as the separator.
        val unfused = snapped.select(col("doc"),
          when(col("s") > 1 &&
              nonSpace(col("_t").substr(col("s") - 1, lit(1))) &&
              nonSpace(col("_t").substr(col("e"), lit(1))) &&
              col("_t").substr(col("s"), lit(1)).rlike("(?U)^\\s$"),
            col("s") + 1).otherwise(col("s")).as("s"),
          col("e"))
        mergeIslands(unfused)
      }
    val islands = cuts
      .groupBy("doc")
      .agg(sort_array(collect_list(struct(col("is"), col("ie"))))
        .as("_cut"))
    df.select(col(idCol).cast("long").as("doc"), col(textCol).as("_t"))
      .join(islands, Seq("doc"), "left")
      .select(col("doc").as("doc_id"),
        when(col("_cut").isNull, col("_t")).otherwise {
          // keep-segment boundaries: starts = 1 :: island ends,
          // ends = island starts :: len + 1
          val starts = concat(array(lit(1)),
            transform(col("_cut"), x => x.getField("ie")))
          val ends = concat(transform(col("_cut"), x => x.getField("is")),
            array(length(col("_t")) + 1))
          array_join(zip_with(starts, ends,
            (s, e) => col("_t").substr(s, e - s)), "")
        }.as("text_cleaned"),
        coalesce(aggregate(col("_cut"), lit(0),
            (acc, x) => acc + (x.getField("ie") - x.getField("is"))),
          lit(0)).cast("int").as("n_removed"))
  }

  /** Whole-doc near-dup PAIRS decided by substring coverage — the bridge
    * from span detection to document-level dedup: two docs pair when the
    * union of their shared maximal spans covers >= `minCoverage` of
    * EITHER doc (each side's span union over its own length, max of the
    * two ratios — containment semantics: a short doc wholly embedded in
    * a long one scores 1.0, where symmetric Jaccard would dilute it;
    * a doc mostly made of content repeated in its pair also qualifies).
    * Output (id_a, id_b, coverage) feeds `Dedup.components`/`survivors`
    * unchanged.
    */
  def coverageNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                           minCoverage: Double, minLen: Int = 50,
                           k: Int = 16,
                           maxAnchorDf: Int = Int.MaxValue,
                           maxPosPerHash: Int = DefaultMaxPosPerHash): DataFrame = {
    val spans = duplicateSpans(df, textCol, idCol, minLen, k, maxAnchorDf,
      maxPosPerHash)
    // union the span intervals per (pair, side) in ONE tagged island
    // pass — maximal spans on different diagonals can overlap on a doc's
    // axis, so a plain sum would overcount. Both sides come from a
    // single explode (a unionAll of two selects would re-run the whole
    // span pipeline once per branch — the extension stage carries no
    // reusable exchange at its top).
    val tagged = spans.select(col("doc_a"), col("doc_b"),
        explode(array(
          struct(lit("a").as("side"), col("start_a").as("s"),
            (col("start_a") + col("span_len")).as("e")),
          struct(lit("b").as("side"), col("start_b").as("s"),
            (col("start_b") + col("span_len")).as("e")))).as("x"))
      .select(col("doc_a"), col("doc_b"),
        col("x.side").as("side"), col("x.s").as("s"), col("x.e").as("e"))
    // islands are disjoint per (pair, side), so one conditional-sum
    // aggregate yields both sides' coverage in a single pass
    val cov = mergeIslands(tagged, Seq("doc_a", "doc_b", "side"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(when(col("side") === "a", col("ie") - col("is"))).as("_ca"),
        sum(when(col("side") === "b", col("ie") - col("is"))).as("_cb"))
    val lens = df.select(col(idCol).cast("long").as("id"),
      length(col(textCol)).as("len"))
    cov
      .join(lens.select(col("id").as("doc_a"), col("len").as("_la")), "doc_a")
      .join(lens.select(col("id").as("doc_b"), col("len").as("_lb")), "doc_b")
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        greatest(col("_ca") / col("_la"),
          col("_cb") / col("_lb")).as("_cov_raw"))
      // threshold on the UNROUNDED ratio: rounding first would admit a
      // pair at e.g. true 0.49999975 < 0.5 (it rounds to exactly 0.5)
      // and components() could then merge two clusters that should stay
      // apart; the rounded value is display-only
      .filter(col("_cov_raw") >= minCoverage)
      .select(col("id_a"), col("id_b"),
        round(col("_cov_raw"), 6).as("coverage"))
  }

  /** Per-document duplicated-character coverage: the union of all span
    * intervals a doc participates in (either side of any pair), merged
    * with the window-island pass. Returns every input doc:
    * (doc_id, dup_chars, dup_frac), zero for clean docs.
    */
  def duplicateCharStats(df: DataFrame, textCol: String, idCol: String,
                         minLen: Int = 50, k: Int = 16,
                         maxAnchorDf: Int = Int.MaxValue,
                         maxPosPerHash: Int = DefaultMaxPosPerHash): DataFrame = {
    val spans = duplicateSpans(df, textCol, idCol, minLen, k, maxAnchorDf,
      maxPosPerHash)
    // both interval sides from one explode — see coverageNearDupPairs
    val ivals = spans.select(explode(array(
        struct(col("doc_a").as("doc"), col("start_a").as("s"),
          (col("start_a") + col("span_len")).as("e")),
        struct(col("doc_b").as("doc"), col("start_b").as("s"),
          (col("start_b") + col("span_len")).as("e")))).as("x"))
      .select(col("x.doc").as("doc"), col("x.s").as("s"), col("x.e").as("e"))
    val covered = mergeIslands(ivals)
      .groupBy("doc")
      .agg(sum(col("ie") - col("is")).as("_dup"))
    df.select(col(idCol).cast("long").as("doc"),
        coalesce(length(col(textCol)), lit(0)).as("_len"))
      .join(covered, Seq("doc"), "left")
      .select(col("doc").as("doc_id"),
        coalesce(col("_dup"), lit(0L)).cast("int").as("dup_chars"),
        // empty/null-text docs divide 0/0 → SQL null, which a downstream
        // `dup_frac < x` filter silently DROPS; the documented contract
        // is zero for clean docs, whatever their length
        when(col("_len") > 0,
            round(coalesce(col("_dup"), lit(0L)) / col("_len"), 4))
          .otherwise(lit(0.0)).as("dup_frac"))
  }
}
