package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.store.IndexStore
import graft.text.{Corpus, TextFunctions}

/** Text-analysis / dedup / similarity queries over the documents and
  * embeddings tables. All registered queries carry FULL DuckDB oracles —
  * including the hash-seeded ops (minhash q38, simhash q37, SRP q63, IVF
  * q62), whose oracles compare against exhaustive-similarity SQL truth
  * rather than re-deriving the hashes.
  */
object TextQueries {

  /** q94's on-disk index location — keyed by full-path UUID (not a
    * collision-prone hashCode) AND the process pid: bench iterations
    * within one process reuse/overwrite the same dir, while two
    * concurrent harness processes can never overwrite each other's
    * index mid-probe.
    */
  private def q94IndexDir(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_q94_idx_" +
      java.util.UUID.nameUUIDFromBytes(
        d.getBytes(java.nio.charset.StandardCharsets.UTF_8)) +
      s"_${ProcessHandle.current().pid()}"

  /** Dirs this process has already built — lets q94_ivf_batch_probe be
    * SERVE-ONLY when q94_build_ivf ran first (the name-ordered bench /
    * verify path) while staying self-contained when invoked alone.
    * First registration also hooks a JVM-exit delete: the dirs are
    * per-pid, so nothing else can ever reuse them and they would
    * otherwise accumulate in java.io.tmpdir one per harness process.
    */
  private val q94Built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val q94Cleanup =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** q101's on-disk minhash index location + built-this-process set —
    * the same per-(sfDir, pid) keying and reuse discipline as q94's. */
  private def q101IndexDir(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_q101_idx_" +
      java.util.UUID.nameUUIDFromBytes(
        d.getBytes(java.nio.charset.StandardCharsets.UTF_8)) +
      s"_${ProcessHandle.current().pid()}"

  private val q101Built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def q94RegisterCleanup(dir: String): Unit =
    if (q94Cleanup.add(dir)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(dir))
      }))
      ()
    }

  /** q66's pre-sink streaming construction on a clone of `s` at the
    * sized state-partition width (graft.ops.Scoped): the raw-events
    * stream + a far-future sentinel SECOND file source (after the first
    * microbatch the watermark passes every real session's end and the
    * no-data batch flushes them — emission driven purely by event time)
    * + session windows, handed to `run` with that width for the sink
    * choice. The sentinel dir is deleted on the way out. Shared by the
    * registered query (memory sink + ordered post-processing) and
    * ScaleLadder (NOOP sink on RocksDB state — at decade-3 volume the
    * memory sink's driver-side result table, ~1e8 session rows, OOMs
    * the harness while the OPERATOR's state stays watermark-bounded;
    * the noop sink measures the operator, not result collection).
    *
    * Session-window state store cost scales with partitions per
    * microbatch (measured sf0.1 floor: 2 — 16 -> 5.5s, 4 -> 4.3s,
    * 2 -> 3.9s, 1 -> 4.4s), but a pinned constant throttles keyed state
    * work at bigger inputs — sized by input bytes instead (sf1: pinned
    * 2 -> 13.0 s in the paired bench, sized 8 -> 6.0 s).
    *
    * session_window merges boundary-INCLUSIVELY (an event exactly
    * gapDuration after the last one EXTENDS the session), so gap=1800s
    * reproduces the batch rule "new session when gap > 1800s" exactly;
    * ts is floored to seconds in the stream projection.
    */
  private[graft] def withQ66Sessions[T](s: SparkSession, d: String)(
      run: (DataFrame, Int) => T): T = {
    val width = graft.streaming.Streams.sizedStatePartitions(s, d, "events.parquet")
    val c = graft.ops.Scoped.session(s, graft.ops.Scoped.ShufflePartitions,
      width.toString)
    // declared outside the try so the finally can reclaim it: the sink
    // consumes the stream synchronously inside `run`, so the sentinel
    // parquet is dead the moment `run` returns
    var sentinelDir: String = null
    try {
      val ev = graft.streaming.Streams.readEventsRaw(c, d,
          glob = "events.parquet")
        .select(col("event_id"),
          col("ts").cast("long").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
      sentinelDir =
        java.nio.file.Files.createTempDirectory("q66_sentinel").toString
      c.range(0, 1, 1, numPartitions = 1) // 1 row: don't plan `cores` slices
        .select(lit(-1L).as("event_id"),
          lit("2100-01-01 00:00:00").cast("timestamp").as("ts"),
          lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"))
        .write.mode("overwrite").parquet(sentinelDir)
      val sentinel = c.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .parquet(sentinelDir)
      run(graft.streaming.Streams.sessionWindows(
        ev.unionByName(sentinel), gap = "1800 seconds",
        watermark = "0 seconds"), width)
    } finally {
      if (sentinelDir != null) {
        import scala.jdk.CollectionConverters._
        val root = java.nio.file.Paths.get(sentinelDir)
        // Files.walk holds directory handles open until closed —
        // materialize the paths, then close, then delete.
        val walk = java.nio.file.Files.walk(root)
        val paths =
          try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          finally walk.close()
        paths.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + corpus stats per language bucket.
    "q31_token_stats" -> ((s, d) => {
      // fanOut: the scan-stage partial agg otherwise serializes on the
      // bench corpus's single parquet row group (no-op at real scale,
      // where split count >= parallelism) — same below wherever a
      // projection/explode rides a bare documents scan
      val docs = graft.ops.Par.fanOut(Tables.documents(s, d))
      docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(TextFunctions.tokenCount(col("text"))), 4).as("avg_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("lang")
    }),

    // Per-document quality scoring (length/word-len/stopword/punct).
    // minRows 2048: this projection's per-row CPU is regex-heavy
    // (~200 µs/row — 4 regex passes/row), an order above the winnow-
    // class scans the default 16384 floor is calibrated for; measured
    // (QueryProbe min-of-2, sf0.1, r15): 1.10 → 0.70 s fanned out.
    "q32_quality" -> ((s, d) => {
      // tokens + non-space length projected ONCE, metrics derived from
      // the shared columns (r15: the single-select form embedded 3 split
      // call sites per row — codegen CSE does not unify them across the
      // when-guarded metric trees; same values, one tokenize)
      val nsLen = Some(col("_ns"))
      graft.ops.Par.fanOut(Tables.documents(s, d), minRows = 2048)
        .select(col("doc_id"), col("text"),
          TextFunctions.tokens(col("text")).as("_toks"),
          length(regexp_replace(trim(col("text")), "\\s+", "")).as("_ns"))
        .select(
          col("doc_id"),
          TextFunctions.tokenCountOf(col("_toks")).as("token_count"),
          round(TextFunctions.avgWordLenOf(col("text"), col("_toks"), nsLen), 4)
            .as("avg_word_len"),
          round(TextFunctions.stopwordRatioOf(col("_toks")), 4)
            .as("stopword_ratio"),
          TextFunctions.qualityScoreOf(col("text"), col("_toks"), nsLen)
            .as("quality"))
        .orderBy("doc_id")
    }),

    // Language ID by stopword-profile argmax.
    // minRows 2048: langId = 5 VocabHits passes + a codepoint-class
    // regex_replace per row (~240 µs/row) — same regex-heavy class as
    // q32; measured (same probe): 1.10 → 0.59 s fanned out.
    "q33_lang_id" -> ((s, d) => {
      // shared-token form: the inline langId(text) embedded 10 split
      // call sites per row (5 VocabHits × guard/branch) — see q32
      graft.ops.Par.fanOut(Tables.documents(s, d), minRows = 2048)
        .select(col("doc_id"), col("text"),
          TextFunctions.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          TextFunctions.langIdOf(col("text"), col("_toks")).as("detected"))
        .orderBy("doc_id")
    }),

    // Prefix-fingerprint duplicate groups (truncation near-dups).
    "q34_fingerprint_groups" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(TextFunctions.prefixFingerprint(col("text"), 5).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
        .orderBy("fingerprint")
    }),

    // Dedup survivors by prefix fingerprint, counted per language.
    "q35_dedup_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val survivors = docs
        .groupBy(TextFunctions.prefixFingerprint(col("text"), 5).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      docs.join(survivors, "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n_survivors"))
        .orderBy("lang")
    }),

    // Exact 3-gram Jaccard near-dup pairs (shingle inverted-index join).
    "q36_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "text", "doc_id",
        n = 3, minJaccard = 0.2, maxShingleDf = Int.MaxValue)
        .orderBy("id_a", "id_b")
    }),

    // PII scrubbing: plant deterministic emails/IPv4s into the corpus,
    // then count and redact them (codegen'd regexp built-ins; RE2-safe
    // patterns so DuckDB reproduces the scan verbatim).
    "q72_pii_redact" -> ((s, d) => {
      val seeded = graft.ops.Par.fanOut(Tables.documents(s, d)).withColumn("text2", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)), lit(".17")))
          .otherwise(lit(""))))
      seeded.select(col("doc_id"),
          TextFunctions.piiCount(col("text2")).as("n_pii"),
          length(TextFunctions.redactPii(col("text2"))).as("redacted_len"))
        .filter(col("n_pii") > 0)
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: every 50th document plays the held-out
    // eval set; count corpus documents sharing >= 2 distinct word
    // trigrams with each bench doc. Bench shingles broadcast — the
    // corpus-side index never shuffles before the pair aggregation.
    "q71_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      Dedup.contaminationStats(corpus, bench, "text", "doc_id",
        n = 3, minShared = 2)
        .orderBy("bench_id")
    }),

    // Gopher-style quality-rule battery, aggregated per source: how many
    // documents pass the published filter heuristics, and which rule
    // kills the failures.
    "q73_quality_rules" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.gopherRules(docs, "text", "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1).otherwise(0)).as("n_pass"),
          sum(when(!col("r_words"), 1).otherwise(0)).as("fail_words"),
          sum(when(!col("r_word_len"), 1).otherwise(0)).as("fail_word_len"),
          sum(when(!col("r_stopwords"), 1).otherwise(0)).as("fail_stopwords"),
          sum(when(!col("r_repetition"), 1).otherwise(0)).as("fail_repetition"))
        .orderBy("source")
    }),

    // Token-budgeted corpus slice: per-source 800-token cap applied in
    // doc_id order (training-mix composition).
    "q74_token_budget" -> ((s, d) => {
      Corpus.tokenBudget(Tables.documents(s, d), "text", "doc_id",
          "source", budget = 800L)
        .groupBy("source").agg(
          count(lit(1)).as("n_kept"),
          max("cum_tokens").as("tokens_kept"))
        .orderBy("source")
    }),

    // Token-window chunking (RAG/embedding prep): 16-token windows with
    // 8-token overlap, final partial window kept.
    "q82_chunk_tokens" -> ((s, d) => {
      Corpus.chunkTokens(Tables.documents(s, d), "text", "doc_id",
          window = 16, overlap = 8)
        .orderBy("doc_id", "chunk_idx")
    }),

    // Substring-level decontamination: verbatim spans >= 50 chars shared
    // between the corpus (doc_id >= 50) and a held-out benchmark slice
    // (doc_id < 50) — q71 at span granularity; bench anchors broadcast.
    "q86_contamination_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.SubstringDedup.crossSpans(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "text", "doc_id", minLen = 50, k = 16)
        .orderBy("corpus_id", "bench_id", "start_corpus", "start_bench")
    }),

    // Curation composition v2: exact whole-doc dedup (q35's fingerprint
    // survivors) THEN substring-level span removal among the survivors
    // (partial overlaps that whole-doc dedup can't see), rolled up per
    // lang. Oracles the COMPOSITION of the q35 and q85 stages.
    "q88_curation_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = docs
        .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val survivors = docs.join(keep, "doc_id")
      graft.dedup.SubstringDedup.removeDuplicateSpans(
          survivors, "text", "doc_id", minLen = 50, k = 16)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_removed").cast("long")).as("chars_removed"),
          sum(TextFunctions.tokenCount(col("text_cleaned")).cast("long"))
            .as("tokens_after"))
        .orderBy("lang")
    }),

    // REAL streaming decontamination: the incoming corpus streamed from
    // the parquet file source, probed in-flight against the broadcast
    // bench-anchor sidecar (doc_id < 50). Stateless projection — no
    // state store, no watermark — so append mode emits every verdict;
    // oracled against the batch gram-join truth.
    "q87_stream_decontaminate" -> ((s, d) => {
      val sp = graft.streaming.Streams.sizedStatePartitions(s, d, "documents.parquet")
      val bench = Tables.documents(s, d).filter(col("doc_id") < 50)
      graft.ops.Scoped.atWidth(s, sp) { c =>
        val stream = graft.streaming.Streams.readDocuments(c, d)
          .filter(col("doc_id") >= 50)
        val out = graft.streaming.Streams.contaminationFilter(
          stream, bench, "text", "doc_id", minLen = 50, k = 16)
        graft.streaming.Streams.runToMemory(
          out, s"q87_decon_${System.nanoTime}", "append")
      }
        // post-stream coalesce — see q65 (memory table scans wide)
        .coalesce(sp)
        .select(col("doc_id"),
          col("contaminated").cast("int").as("contaminated"),
          col("n_bench_docs"), col("max_span"))
        .orderBy("doc_id")
    }),

    // Span REMOVAL — the curation step consuming q83's spans: cut every
    // duplicated span from its pair's higher id (one canonical copy
    // survives), reassemble the cleaned text with codegen'd built-ins.
    // Full-string equality against the DuckDB reconstruction.
    "q85_dedup_cleaned" -> ((s, d) => {
      graft.dedup.SubstringDedup.removeDuplicateSpans(
          Tables.documents(s, d), "text", "doc_id", minLen = 50, k = 16)
        .orderBy("doc_id")
    }),

    // Whole-doc dedup decided by substring COVERAGE (containment
    // semantics: union of shared spans over the smaller doc's length),
    // closed through connected components to per-lang survivors — the
    // q64 pipeline with span coverage replacing shingle Jaccard.
    "q90_coverage_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = graft.dedup.SubstringDedup.coverageNearDupPairs(
        docs, "text", "doc_id", minCoverage = 0.5, minLen = 50, k = 16)
      Dedup.survivors(docs, pairs, "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n_survivors"))
        .orderBy("lang")
    }),

    // Span removal in WORD-SNAP mode: cuts expanded outward to word
    // boundaries (no partial-word stumps in the cleaned text). Full
    // string-equality oracle — the snap regexes are RE2-safe so DuckDB
    // reproduces the boundary search verbatim.
    "q89_dedup_snapped" -> ((s, d) => {
      graft.dedup.SubstringDedup.removeDuplicateSpans(
          Tables.documents(s, d), "text", "doc_id", minLen = 50, k = 16,
          snapToWords = true)
        .orderBy("doc_id")
    }),

    // Substring-level dedup (Lee et al. ACL'22 re-designed on winnowing
    // fingerprints): all maximal cross-doc duplicated spans >= 50 chars.
    // The oracle brute-forces every 50-char gram and merges diagonal
    // islands — exact truth, so this is a FULL-equality gate on the
    // anchor->extend pipeline (caps off: exactness mode).
    "q83_dup_spans" -> ((s, d) => {
      graft.dedup.SubstringDedup.duplicateSpans(
          Tables.documents(s, d), "text", "doc_id", minLen = 50, k = 16)
        .orderBy("doc_a", "doc_b", "start_a", "start_b")
    }),

    // q83's twin with the two-phase sliced-extension kernel FORCED:
    // gate-scale corpora auto-route single-phase, so this is the row
    // that keeps the scale route's bit-exactness under the driver's
    // hash gate every round (oracle shared with q83 — the routes are
    // bit-identical by construction, spec-pinned on randomized corpora).
    "q98_dup_spans_twophase" -> ((s, d) => {
      graft.dedup.SubstringDedup.duplicateSpans(
          Tables.documents(s, d), "text", "doc_id", minLen = 50, k = 16,
          twoPhase = Some(true))
        .orderBy("doc_a", "doc_b", "start_a", "start_b")
    }),

    // Per-doc duplicated-char coverage: union of span intervals on either
    // side of any pair, merged by a window-island pass; every doc
    // reported (clean docs at 0).
    "q84_dup_coverage" -> ((s, d) => {
      graft.dedup.SubstringDedup.duplicateCharStats(
          Tables.documents(s, d), "text", "doc_id", minLen = 50, k = 16)
        .orderBy("doc_id")
    }),

    // Line-level boilerplate dedup (the CCNet paragraph-dedup /
    // RefinedWeb line-removal curation step) over a constructed
    // multi-line corpus: the testdata documents are single-line, so the
    // query builds 4-line docs from closed-form fields BOTH engines
    // derive identically (the q96/q97 oracle idiom) — a per-lang header
    // (df ≈ n/5, removed), the unique text line (kept), a per-doc-pair
    // line (df = 2 < minDf = 3, KEPT — pins the threshold boundary),
    // and a per-source footer (df ≈ n/20, removed).
    "q99_line_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat_ws("\n",
          concat(lit("HDR "), col("lang")),
          col("text"),
          concat(lit("PAIR "), expr("doc_id DIV 2").cast("string")),
          concat(lit("FTR "), col("source"))).as("t"))
      graft.text.Corpus.dedupLines(docs, "t", "doc_id", minDf = 3)
        .orderBy("doc_id")
    }),

    // Incremental ingestion dedup: a "new crawl" (every 4th doc, plus
    // deterministically planted re-crawls of snapshot texts) deduped
    // against the prior snapshot (the other docs) WITHOUT shuffling the
    // snapshot — bloom prefilter over snapshot text hashes, broadcast
    // candidate confirm, broadcast anti join (Dedup.dedupAgainstCorpus).
    // FULL oracle: DuckDB text-equality NOT EXISTS over the same
    // construction; equality-via-xxhash64 is the established hashed-key
    // premise, and every planted re-crawl must vanish under the hash
    // gate while every genuinely new doc survives.
    "q100_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val existing = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .select("doc_id", "text")
      val incoming = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"))
        .unionAll(docs
          .filter(pmod(col("doc_id"), lit(4)) === 1 &&
            pmod(col("doc_id"), lit(3)) === 1)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.dedupAgainstCorpus(incoming, existing, "text")
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
        .orderBy("doc_id")
    }),

    // Incremental NEAR-dup ingestion: the odd-id docs (the "new crawl",
    // plus planted verbatim re-crawls of snapshot texts under fresh ids)
    // deduped against an ON-DISK MinHash index of the even-id snapshot
    // (Dedup.writeMinhashIndex / dedupNearAgainstCorpus) — the snapshot
    // is scanned, never shuffled: batch band signatures broadcast into
    // the bands scan, candidate ids broadcast-semi into the sets scan,
    // exact hashed-shingle rerank on the candidates. FULL oracle:
    // DuckDB exhaustive cross-Jaccard truth over the same construction
    // (the q38 gate premise — LSH recall is measured-100% on this
    // corpus's qualifying pairs; planted re-crawl recall is structural,
    // identical shingle sets share every signature). Index built once
    // per process (name-ordered iterations after the first are
    // probe-only, like q94).
    "q101_incremental_neardup" -> ((s, d) => {
      val dir = q101IndexDir(d)
      q94RegisterCleanup(dir)
      val docs = Tables.documents(s, d)
      val snap = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select("doc_id", "text")
      if (q101Built.add(dir))
        Dedup.writeMinhashIndex(snap, "text", "doc_id", dir)
      val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select("doc_id", "text")
        .unionAll(docs
          .filter(pmod(col("doc_id"), lit(10)) === 2)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.dedupNearAgainstCorpus(batch, dir, "text", "doc_id",
          minJaccard = 0.2)
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
        .orderBy("doc_id")
    }),

    // MinHash index BUILD, split from q101's serving so the snapshot
    // indexing cost is visible per SF (the q94_build_ivf discipline —
    // r15 verdict item 2: q101's index build only ever ran in the
    // DISCARDED priming iteration, so a cost that scales with the
    // snapshot corpus was invisible to the bench). Always a full
    // rebuild (honest build cost per run), then gated against the meta
    // the build STAMPED on disk: rows is closed-form (snapshot docs
    // whose text yields >= 1 word 3-gram, i.e. >= 3 whitespace
    // tokens), so DuckDB derives the same pair independently — the
    // gate asserts an index with exactly those properties was written.
    // Runs BEFORE q101_incremental_neardup in bench/verify name order,
    // so that query stays serve-only (its q101Built.add is a no-op).
    "q101_build_index" -> ((s, d) => {
      val dir = q101IndexDir(d)
      q94RegisterCleanup(dir)
      val snap = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select("doc_id", "text")
      Dedup.writeMinhashIndex(snap, "text", "doc_id", dir)
      q101Built.add(dir)
      val meta = IndexStore.meta(s, dir, Dedup.MinhashIndex)
      import s.implicits._
      Seq((meta.long("rows"), meta.int("numHashTables")))
        .toDF("n_docs", "n_tables")
    }),

    // Deterministic source-weighted mix sampling: 60/30/10 % rates by
    // source index residue, systematic on doc_id.
    "q75_mix_sample" -> ((s, d) => {
      val idx = expr("CAST(substring(source, 4, 18) AS INT)")
      val pct = when(pmod(idx, lit(3)) === 0, 60)
        .when(pmod(idx, lit(3)) === 1, 30).otherwise(10)
      Corpus.mixSample(Tables.documents(s, d), "doc_id", pct)
        .groupBy("source").agg(
          count(lit(1)).as("n_kept"),
          sum(TextFunctions.tokenCount(col("text")).cast("long"))
            .as("tokens_kept"))
        .orderBy("source")
    }),

    // End-to-end curation pipeline — the composition a reference user
    // actually runs: Gopher-rule quality gate -> fingerprint dedup
    // survivors -> per-source token budget -> final mix stats. Each
    // stage is an operator oracled on its own (q73/q35/q74); this query
    // oracles the COMPOSITION.
    "q79_curation_pipeline" -> ((s, d) => {
      // Single-pass composition (r16; the r15 shape evaluated the
      // docs ⋈ gopher-pass frame in TWO divergent consumers — the
      // fingerprint-keep aggregate and the final dedup join — so the
      // whole gopherRules scan+join ran twice, and the full text column
      // rode both doc_id joins). Now: ONE gopherRules pass produces the
      // pass set; ONE narrow projection computes everything downstream
      // actually needs (doc_id, source, prefix fingerprint, token
      // count) — the text column never leaves a scan stage (guide §8:
      // decide with small rows); the fingerprint dedup is a window-min
      // over the narrow frame (same survivor set as groupBy(fp).min +
      // join-back, one exchange instead of agg+join); the token budget
      // is tokenBudget's own cumsum inlined over the already-narrow
      // rows. Bit-identical output: same pass rules, same fingerprint,
      // same ROWS-frame cumsum, same aggregates (oracle unchanged).
      val docs = Tables.documents(s, d)
      val pass = Corpus.gopherRules(docs, "text", "doc_id")
        .filter(col("pass")).select("doc_id")
      val meta = graft.ops.Par.fanOut(docs)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokens(coalesce(col("text"), lit(""))).as("_tk"))
        .select(col("doc_id"), col("source"),
          md5(lower(concat_ws(" ", slice(col("_tk"), 1, 5)))).as("_fp"),
          size(col("_tk")).cast("long").as("n_tokens"))
      val kept = meta.join(pass, "doc_id")
      val wFp = org.apache.spark.sql.expressions.Window.partitionBy("_fp")
      val wSrc = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      kept.withColumn("_keep", min(col("doc_id")).over(wFp))
        .filter(col("doc_id") === col("_keep"))
        .withColumn("cum_tokens", sum("n_tokens").over(wSrc))
        .filter(col("cum_tokens") <= 600)
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          max("cum_tokens").as("n_tokens"))
        .orderBy("source")
    }),

    // Corpus-unigram LM quality score (CCNet-perplexity shape): mean
    // ln p(token) per document under the corpus unigram distribution.
    "q77_unigram_logprob" -> ((s, d) => {
      Corpus.unigramLogProb(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Per-document top-3 TF-IDF terms (rounded-score ranking, term
    // tie-break — cross-engine-stable).
    "q78_tfidf_terms" -> ((s, d) => {
      Corpus.tfidfTopTerms(Tables.documents(s, d), "text", "doc_id", k = 3)
        .orderBy("doc_id", "rank")
    }),

    // SemDeDup semantic dedup, FULLY ORACLED via planted copies: verbatim
    // duplicates of the first 25 vectors are appended at vec_id+100000.
    // Identical vectors quantize to the same KMeans cell regardless of
    // the seed, and cos=1.0 passes any threshold, so every copy is
    // removed (the original has the smaller id); the max NATURAL pairwise
    // cosine in this corpus is 0.60 at every scale factor (measured), so
    // minCosine=0.9 admits no other pair. Survivors = the original table,
    // which DuckDB states without reproducing the quantizer.
    "q76_semantic_dedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val planted = e.unionByName(
        e.filter(col("vec_id") < 25)
          .withColumn("vec_id", col("vec_id") + 100000))
      Similarity.semanticDedup(planted, "embedding", "vec_id",
          minCosine = 0.9)
        .groupBy("label").agg(count(lit(1)).as("n_survivors"))
        .orderBy("label")
    }),

    // SimHash banding near-dups, FULLY ORACLED on a planted corpus: 40
    // synthetic token documents (a deterministic formula of doc_id), each
    // with a verbatim copy at doc_id+1000. Copies share every band and sit
    // at hamming 0 (recall is the pigeonhole guarantee, independent of the
    // hash values); unrelated synthetic docs share at most a couple of
    // their 40 tokens, so their simhashes sit ~30 bits apart and cannot
    // pass maxHamming=3. The planted pair set IS the full answer, which
    // DuckDB states without reproducing the engine hash.
    "q37_simhash_pairs" -> ((s, d) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(40)),
            j => concat(lit("w"),
              pmod(col("doc_id") * 31 + j * 7, lit(997))))).as("text"))
      val corpus = base.unionByName(
        base.select((col("doc_id") + 1000).as("doc_id"), col("text")))
      Dedup.simhashPairs(corpus, "text", "doc_id", maxHamming = 3, bands = 4)
        .orderBy("id_a", "id_b")
    }),

    // MinHash LSH pairs, FULLY ORACLED: the rerank scores candidates with
    // EXACT Jaccard over the true shingle sets, so the hash only decides
    // recall — and at 8 tables over this corpus recall vs the exhaustive
    // q36 truth is measured 100% (DedupSimSpec pins it). The oracle is
    // therefore the same exact set-intersection SQL as q36.
    "q38_minhash_pairs" -> ((s, d) => {
      Dedup.minhashPairs(Tables.documents(s, d), "text", "doc_id",
        n = 3, numHashTables = 8, minJaccard = 0.2)
        .orderBy("id_a", "id_b")
    }),

    // Brute-force cosine top-10 against a fixed query vector.
    "q39_cosine_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      Similarity.topKForVector(emb, "embedding", "vec_id", query, 10)
    }),

    // Exact kNN (top-5 cosine) for the first 20 vectors: the ANN oracle.
    "q40_knn_exact" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
        "embedding", "vec_id", 5)
        .orderBy("query_id", "rank")
    }),

    // Structured Streaming on the gate: the windowed rollup runs as a
    // real stream over the raw nanos parquet into a memory sink; complete
    // mode makes it equal the batch rollup, so it gets a full oracle.
    "q65_stream_rollup" -> ((s, d) => {
      // Streaming state stores cost per shuffle partition per microbatch;
      // a single-file batch-equivalent run doesn't need 32 of them. The
      // stream starts on a clone at the sized width (graft.ops.Scoped),
      // so surrounding batch queries are unaffected.
      val sp = graft.streaming.Streams.sizedStatePartitions(s, d, "events.parquet")
      graft.ops.Scoped.atWidth(s, sp)(c => graft.streaming.Streams.runToMemory(
        graft.streaming.Streams.windowedRollup(
          graft.streaming.Streams.readEventsRaw(c, d, glob = "events.parquet")),
        s"q65_rollup_${System.nanoTime}", "complete"))
        // post-stream coalesce (r16): the memory-sink table scans as
        // defaultParallelism partitions however few rows it holds
        // (LocalTableScan parallelism), so the final sort's map side ran
        // `cores` tasks × ~0.2 s/task of fixed stage cost on an
        // aggregated, driver-local result. Width follows the same
        // input-bytes sizing as the stream's state partitions.
        .coalesce(sp)
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // Event-time streaming sessionization (batch twin: q49). A REAL
    // Structured Streaming run on session_window in APPEND mode: a copy of
    // events plus one far-future sentinel row feeds the file source, so
    // the post-batch watermark passes every real session's end and the
    // no-data microbatch flushes them all — emission driven purely by
    // event time, identical on live run and replay.
    "q66_stream_sessionize" -> ((s, d) => {
      withQ66Sessions(s, d) { (sessions, width) =>
        // back on s, then the post-stream coalesce — see q65 (memory
        // table scans `cores`-wide)
        val out = org.apache.spark.sql.GraftSqlBridge.ofRows(s,
            graft.streaming.Streams.runToMemory(
              sessions, s"q66_sessions_${System.nanoTime}", "append"))
          .coalesce(width)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("session_start")
        out.filter(col("user_id") >= 0)
          .select(col("user_id"),
            row_number().over(w).cast("int").as("session_idx"),
            col("n_events"),
            round(col("sum_value"), 2).as("sum_value"),
            col("duration_sec"))
          .orderBy("user_id", "session_idx")
      }
    }),

    // REAL stream-stream interval join (click -> purchase attribution
    // within 30 min): two watermarked file sources over the same raw
    // events parquet, inner-joined on (user, time range) — the join
    // state is watermark-bounded; matches emit eagerly in append mode.
    "q81_stream_attribution" -> ((s, d) => {
      val sp = graft.streaming.Streams.sizedStatePartitions(s, d, "events.parquet")
      graft.ops.Scoped.atWidth(s, sp) { c =>
        def evs = graft.streaming.Streams.readEventsRaw(c, d, glob = "events.parquet")
          .select(col("event_id"),
            col("ts").cast("long").cast("timestamp").as("ts"),
            col("user_id"), col("event_type"))
        val clicks = evs.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
            col("user_id"))
        val purchases = evs.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
            col("user_id").as("_p_user"))
        val joined = graft.streaming.Streams.streamIntervalJoin(
          clicks, purchases, "user_id", "_p_user", "c_ts", "p_ts",
          maxGap = "30 minutes", watermark = "1 hour")
        graft.streaming.Streams.runToMemory(
          joined, s"q81_attr_${System.nanoTime}", "append")
      }
        // post-stream coalesce — see q65 (memory table scans `cores`-wide)
        .coalesce(sp)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (col("p_ts").cast("long") - col("c_ts").cast("long")).as("gap_sec"))
        .orderBy("click_id", "purchase_id")
    }),

    // End-to-end near-dup dedup: Jaccard pairs -> connected components ->
    // one survivor per component; survivors counted per language.
    "q64_neardup_survivors" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, minJaccard = 0.2, maxShingleDf = Int.MaxValue)
      Dedup.survivors(docs, pairs, "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n_survivors"))
        .orderBy("lang")
    }),

    // IVF ANN: seeded coarse quantizer + probed-cell exact rerank
    // (seeded KMeans: rows-only check; recall pinned vs q40 in ScalaTest).
    // IVF ANN, FULLY ORACLED via planted copies: every 50th vector is
    // duplicated at vec_id+100000 and used as the query set against the
    // ORIGINAL corpus. A copy's nearest probe cell is, by construction,
    // exactly the cell its twin was assigned to (identical vector, same
    // centroids, same metric), so with any nProbe >= 1 the twin is always
    // a candidate and wins top-1 at cos 1.0 (max natural pairwise cosine
    // is 0.60 at every SF — measured). Top-1 is therefore seed-free,
    // while the query still runs the full quantize → probe → rerank path.
    "q62_ivf_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val probesQ = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
      Similarity.ivfTopK(emb, probesQ, "embedding", "vec_id", 1, maxIter = 5)
        .orderBy("query_id")
    }),

    // IVF index BUILD, split from serving so each cost is visible per
    // SF (r12 verdict: q94's 25.4 s at sf10 was build+serve mixed — the
    // suite's most expensive number with no attribution). Always a full
    // rebuild (honest build cost per run), then gated against the meta
    // the build STAMPED on disk: rows/cells are closed-form (the
    // null/empty filter + the max(16, min(4096, ceil(sqrt(n)))) auto
    // sizing), so DuckDB derives the same pair independently — the gate
    // asserts an index with exactly those properties was written.
    "q94_build_ivf" -> ((s, d) => {
      val dir = q94IndexDir(d)
      q94RegisterCleanup(dir)
      Similarity.writeIvfIndex(Tables.embeddings(s, d),
        "embedding", "vec_id", dir, maxIter = 5)
      q94Built.add(dir)
      // read back through the probe-side loaders: rows from the index
      // meta, cells from
      // the centroid sidecar actually written — the gate asserts the
      // on-disk index carries exactly the closed-form properties
      val nVectors = IndexStore.meta(s, dir, Similarity.IvfIndex).long("rows")
      val nCells = Similarity.loadCentroids(s, dir).length
      import s.implicits._
      Seq((nVectors, nCells)).toDF("n_vectors", "n_cells")
    }),

    // Batch serving over the ON-DISK IVF index, FULLY ORACLED via the
    // q62 planted-twin construction: probe a whole DataFrame of planted
    // copies in one distributed plan against the index q94_build_ivf
    // wrote (built here only if this process hasn't yet — Bench/Verify
    // run queries in name order, so build lands first and this number
    // is SERVE-ONLY). Top-1 is structural exactly as in q62 — the
    // twin's cell is the argmin of the SAME fused numerics that rank
    // the query's probe list, so it is always a candidate and wins at
    // cos 1.0. Exercises sidecar → NearestCells probe lists → static
    // cell pruning → rerank.
    "q94_ivf_batch_probe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dir = q94IndexDir(d)
      q94RegisterCleanup(dir)
      if (q94Built.add(dir))
        Similarity.writeIvfIndex(emb, "embedding", "vec_id", dir,
          maxIter = 5)
      val probesQ = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
      Similarity.probeIvfIndexBatch(probesQ, "embedding", "vec_id", dir,
        k = 1)
        .orderBy("query_id")
    }),

    // SRP-LSH cosine near-dup pairs, FULLY ORACLED via planted copies:
    // identical vectors produce identical sign sketches under ANY
    // hyperplane set, so every copy pair is recalled structurally; the
    // exact rerank scores it cos=1.0, and no natural pair reaches the
    // 0.9 threshold (ceiling 0.60 measured at every SF).
    "q63_srp_pairs" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val planted = emb.unionByName(
        emb.filter(pmod(col("vec_id"), lit(20)) === 0)
          .withColumn("vec_id", col("vec_id") + 100000))
      Similarity.cosinePairs(planted, "embedding", "vec_id",
        minCosine = 0.9) // planes auto-sized to the corpus (see autoPlanes)
        .orderBy("id_a", "id_b")
    }),

    // Sequence packing: concat-and-chunk offsets per language stream.
    "q59_pack_offsets" -> ((s, d) => {
      graft.text.Corpus.packOffsets(Tables.documents(s, d),
        "text", "doc_id", "lang", budget = 512)
        .orderBy("doc_id")
    }),

    // Repetition / boilerplate detection per document.
    "q60_repetition" -> ((s, d) => {
      graft.text.Corpus.repetitionStats(Tables.documents(s, d),
        "text", "doc_id", topTokenThreshold = 0.1)
        .orderBy("doc_id")
    }),

    // BPE-ish piece counting vs whitespace tokens (token-budget estimator).
    "q61_bpe_pieces" -> ((s, d) => {
      graft.ops.Par.fanOut(Tables.documents(s, d)).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_ws"),
        TextFunctions.bpePieceCount(col("text")).as("n_bpe"))
        .withColumn("pieces_per_word",
          round(col("n_bpe") / col("n_ws").cast("double"), 4))
        .orderBy("doc_id")
    })
  )

  private val stop = TextFunctions.defaultStopwords
    .map(w => s"'$w'").mkString(", ")

  private def langHitsSql: String =
    TextFunctions.langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val ws = words.map(w => s"'$w'").mkString(", ")
      s"SELECT doc_id, '$lang' AS lang, len(list_filter(t, x -> x IN ($ws))) AS hits FROM toks"
    }.mkString("\n UNION ALL ")

  private val oraclesBase: Map[String, String] = Map(
    "q31_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        | round(avg(len(string_split_regex(trim(text), '\s+'))), 4) AS avg_tokens,
        | round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q32_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    len(string_split_regex(trim(text), '\\s+')) AS n,
         |    length(regexp_replace(trim(text), '\\s+', '', 'g'))
         |      * 1.0 / len(string_split_regex(trim(text), '\\s+')) AS awl,
         |    len(list_filter(string_split_regex(trim(text), '\\s+'),
         |        x -> x IN ($stop)))
         |      * 1.0 / len(string_split_regex(trim(text), '\\s+')) AS swr,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
         |           * 1.0 / length(text) END AS pr
         |  FROM documents)
         |SELECT doc_id, CAST(n AS INT) AS token_count,
         | round(awl, 4) AS avg_word_len,
         | round(swr, 4) AS stopword_ratio,
         | round(least(n / 20.0, 1.0)
         |   * (CASE WHEN n > 1000 THEN 0.5 ELSE 1.0 END)
         |   * (CASE WHEN awl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
         |   * (CASE WHEN swr > 0.01 THEN 1.0 ELSE 0.7 END)
         |   * (CASE WHEN pr < 0.2 THEN 1.0 ELSE 0.5 END), 6) AS quality
         |FROM base ORDER BY doc_id""".stripMargin,

    "q33_lang_id" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
         |hits AS (
         | $langHitsSql),
         |best AS (
         |  SELECT doc_id, lang, hits,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
         |  FROM hits)
         |SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS detected
         |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q34_fingerprint_groups" ->
      """SELECT md5(lower(array_to_string(string_split_regex(trim(text), '\s+')[1:5], ' ')))
        |   AS fingerprint,
        | min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents
        |GROUP BY 1 HAVING count(*) > 1
        |ORDER BY fingerprint""".stripMargin,

    "q35_dedup_survivors" ->
      """WITH fp AS (
        |  SELECT doc_id, lang,
        |    md5(lower(array_to_string(string_split_regex(trim(text), '\s+')[1:5], ' '))) AS f
        |  FROM documents),
        |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f)
        |SELECT lang, count(*) AS n_survivors
        |FROM fp JOIN keep USING (doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q36_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> array_to_string(t[i:i+2], ' '))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON id_a = sa.doc_id
        |JOIN sizes sb ON id_b = sb.doc_id
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "q72_pii_redact" ->
      """WITH seeded AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |         THEN ' from 10.0.' || (doc_id % 256) || '.17' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(t, '\b\d{1,3}(?:\.\d{1,3}){3}\b')) AS INT) AS n_pii,
        |  CAST(length(regexp_replace(
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}(?:\.\d{1,3}){3}\b', '<IP>', 'g')) AS INT) AS redacted_len
        |FROM seeded
        |WHERE len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(t, '\b\d{1,3}(?:\.\d{1,3}){3}\b')) > 0
        |ORDER BY doc_id""".stripMargin,

    "q71_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> array_to_string(t[i:i+2], ' '))) AS s
        |  FROM toks),
        |pairs AS (
        |  SELECT b.doc_id AS bench_id, c.doc_id AS corpus_id, count(*) AS n_shared
        |  FROM sh b JOIN sh c ON b.s = c.s
        |  WHERE b.doc_id % 50 = 0 AND c.doc_id % 50 <> 0
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT bench_id, count(*) AS n_contaminating, max(n_shared) AS max_shared
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,

    "q73_quality_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, text,
         |    string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         |rep AS (
         |  SELECT doc_id, max(c) * 1.0 / any_value(n) AS tr FROM (
         |    SELECT doc_id, w, count(*) AS c, any_value(n) AS n FROM (
         |      SELECT doc_id, unnest(tk) AS w, len(tk) AS n FROM t)
         |    GROUP BY 1, 2)
         |  GROUP BY 1),
         |flags AS (
         |  SELECT t.source,
         |    len(tk) BETWEEN 20 AND 90 AS r_words,
         |    (length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1.0 / len(tk))
         |      BETWEEN 3.0 AND 10.0 AS r_word_len,
         |    len(list_filter(tk, x -> x IN ($stop))) >= 2 AS r_stopwords,
         |    coalesce(tr <= 0.12, false) AS r_repetition
         |  FROM t LEFT JOIN rep USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN r_words AND r_word_len AND r_stopwords
         |                     AND r_repetition THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN NOT r_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_words,
         |  CAST(sum(CASE WHEN NOT r_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
         |  CAST(sum(CASE WHEN NOT r_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
         |  CAST(sum(CASE WHEN NOT r_repetition THEN 1 ELSE 0 END) AS BIGINT) AS fail_repetition
         |FROM flags GROUP BY source ORDER BY source""".stripMargin,

    "q79_curation_pipeline" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, text,
         |    string_split_regex(trim(text), '\\s+') AS tk FROM documents),
         |rep AS (
         |  SELECT doc_id, max(c) * 1.0 / any_value(n) AS tr FROM (
         |    SELECT doc_id, w, count(*) AS c, any_value(n) AS n FROM (
         |      SELECT doc_id, unnest(tk) AS w, len(tk) AS n FROM t)
         |    GROUP BY 1, 2)
         |  GROUP BY 1),
         |pass AS (
         |  SELECT doc_id FROM t LEFT JOIN rep USING (doc_id)
         |  WHERE len(tk) BETWEEN 20 AND 90
         |    AND (length(regexp_replace(trim(text), '\\s+', '', 'g')) * 1.0 / len(tk))
         |      BETWEEN 3.0 AND 10.0
         |    AND len(list_filter(tk, x -> x IN ($stop))) >= 2
         |    AND coalesce(tr <= 0.12, false)),
         |clean AS (SELECT t.* FROM t JOIN pass USING (doc_id)),
         |keep AS (
         |  SELECT min(doc_id) AS doc_id FROM clean
         |  GROUP BY md5(lower(array_to_string(tk[1:5], ' ')))),
         |dd AS (SELECT clean.* FROM clean JOIN keep USING (doc_id)),
         |c AS (
         |  SELECT source, doc_id, len(tk) AS n_tokens,
         |    sum(len(tk)) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |  FROM dd)
         |SELECT source, count(*) AS n_docs, CAST(max(cum) AS BIGINT) AS n_tokens
         |FROM c WHERE cum <= 600 GROUP BY source ORDER BY source""".stripMargin,

    // Planted truths (see the query docs): top-1/pair = the verbatim twin.
    "q62_ivf_ann" ->
      """SELECT vec_id + 100000 AS query_id, vec_id AS neighbor_id,
        |  1.0 AS cos, CAST(1 AS INT) AS rank
        |FROM embeddings WHERE vec_id % 50 = 0 ORDER BY query_id""".stripMargin,

    "q63_srp_pairs" ->
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cos
        |FROM embeddings WHERE vec_id % 20 = 0 ORDER BY id_a""".stripMargin,

    "q94_ivf_batch_probe" ->
      """SELECT vec_id + 100000 AS query_id, vec_id AS neighbor_id,
        |  1.0 AS cos, CAST(1 AS INT) AS rank
        |FROM embeddings WHERE vec_id % 50 = 0 ORDER BY query_id""".stripMargin,

    // Closed-form build properties (see q94_build_ivf): the vector-valid
    // row count and the sqrt auto cell sizing, derived independently.
    "q94_build_ivf" ->
      """SELECT count(*) AS n_vectors,
        |  CAST(greatest(16, least(4096, ceil(sqrt(count(*))))) AS INT)
        |    AS n_cells
        |FROM embeddings
        |WHERE embedding IS NOT NULL AND len(embedding) > 0""".stripMargin,

    "q77_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
        |tot AS (SELECT count(*) AS t FROM toks)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(avg(ln(c * 1.0 / t)), 4) AS avg_logp
        |FROM toks JOIN freq USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q78_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, round(tf * ln(n * 1.0 / df), 4) AS score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY round(tf * ln(n * 1.0 / df), 4) DESC, term ASC) AS INT) AS rank
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, score, rank FROM scored
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // Planted truth: copies removed, originals kept (see the query doc).
    "q76_semantic_dedup" ->
      """SELECT label, count(*) AS n_survivors
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    "q74_token_budget" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM documents),
        |c AS (
        |  SELECT source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM t)
        |SELECT source, count(*) AS n_kept, CAST(max(cum) AS BIGINT) AS tokens_kept
        |FROM c WHERE cum <= 800 GROUP BY source ORDER BY source""".stripMargin,

    // 16-token windows, stride 8, final partial window kept; DuckDB list
    // slicing is 1-based inclusive, so [i*8+1 : i*8+16] = 16 elements.
    "q82_chunk_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE len(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, toks, CAST(u.i AS INT) AS chunk_idx
        |  FROM t, unnest(range(0, 1 + greatest(0,
        |    CAST(ceil((len(toks) - 16) / 8.0) AS BIGINT)))) AS u(i))
        |SELECT doc_id, chunk_idx,
        |  array_to_string(toks[chunk_idx*8+1 : chunk_idx*8+16], ' ') AS chunk_text,
        |  CAST(len(toks[chunk_idx*8+1 : chunk_idx*8+16]) AS INT) AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // Brute-force substring truth: every 50-char gram of every doc,
    // equi-joined across doc pairs, maximal spans = islands of
    // consecutive matches along each (pa - pb) diagonal.
    "q83_dup_spans" ->
      """WITH docs AS (SELECT doc_id, text, len(text) AS L FROM documents),
        |idx AS (SELECT unnest(generate_series(1,
        |  (SELECT max(L) FROM docs))) AS i),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i, 50) AS g
        |  FROM docs JOIN idx ON i <= L - 50 + 1),
        |m AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT da, db, pa - pb AS diag, pa,
        |    pa - row_number() OVER (PARTITION BY da, db, pa - pb
        |                            ORDER BY pa) AS isl
        |  FROM m),
        |spans AS (
        |  SELECT da AS doc_a, db AS doc_b,
        |    CAST(min(pa) AS INT) AS start_a,
        |    CAST(min(pa) - diag AS INT) AS start_b,
        |    CAST(count(*) + 50 - 1 AS INT) AS span_len
        |  FROM runs GROUP BY da, db, diag, isl)
        |SELECT doc_a, doc_b, start_a, start_b, span_len
        |FROM spans ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,

    "q88_curation_spans" ->
      """WITH docs AS (SELECT doc_id, text, lang, len(text) AS L FROM documents),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id FROM (
        |    SELECT doc_id, md5(lower(array_to_string(
        |      string_split_regex(trim(text), '\s+'), ' '))) AS f
        |    FROM docs) GROUP BY f),
        |surv AS (SELECT d.* FROM docs d JOIN keep USING (doc_id)),
        |idx AS (SELECT unnest(generate_series(1,
        |  (SELECT max(L) FROM surv))) AS i),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i, 50) AS g
        |  FROM surv JOIN idx ON i <= L - 50 + 1),
        |m AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT da, db, pa - pb AS diag, pa,
        |    pa - row_number() OVER (PARTITION BY da, db, pa - pb
        |                            ORDER BY pa) AS isl
        |  FROM m),
        |spans AS (
        |  SELECT da, db, min(pa) AS sa, min(pa) - diag AS sb,
        |    count(*) + 50 - 1 AS slen
        |  FROM runs GROUP BY da, db, diag, isl),
        |ivals AS (SELECT db AS doc, sb AS s, sb + slen AS e FROM spans),
        |marked AS (
        |  SELECT doc, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
        |  FROM ivals),
        |isles AS (
        |  SELECT doc, s, e,
        |    sum(nw) OVER (PARTITION BY doc ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM marked),
        |cuts AS (
        |  SELECT doc, min(s) AS cs, max(e) AS ce
        |  FROM isles GROUP BY doc, isl),
        |segs AS (
        |  SELECT doc, coalesce(lag(ce) OVER (PARTITION BY doc
        |      ORDER BY cs), 1) AS ks, cs AS ke
        |  FROM cuts
        |  UNION ALL
        |  SELECT c.doc, max(c.ce), max(d.L) + 1
        |  FROM cuts c JOIN surv d ON d.doc_id = c.doc GROUP BY c.doc),
        |cleaned AS (
        |  SELECT s.doc,
        |    string_agg(substr(d.text, s.ks, s.ke - s.ks), '' ORDER BY s.ks)
        |      AS txt,
        |    sum(s.ke - s.ks) AS kept
        |  FROM segs s JOIN surv d ON d.doc_id = s.doc GROUP BY s.doc),
        |final AS (
        |  SELECT s.doc_id, s.lang, coalesce(c.txt, s.text) AS txt,
        |    s.L - coalesce(c.kept, s.L) AS nrem
        |  FROM surv s LEFT JOIN cleaned c ON s.doc_id = c.doc)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nrem) AS BIGINT) AS chars_removed,
        |  -- fully-cut docs: the engine's tokens('') is the EMPTY array
        |  -- (0 tokens), but string_split_regex('', ..) is [''] (1)
        |  CAST(sum(CASE WHEN len(trim(txt)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(txt), '\s+')) END) AS BIGINT)
        |    AS tokens_after
        |FROM final GROUP BY lang ORDER BY lang""".stripMargin,

    "q87_stream_decontaminate" ->
      """WITH docs AS (SELECT doc_id, text, len(text) AS L FROM documents),
        |idx AS (SELECT unnest(generate_series(1,
        |  (SELECT max(L) FROM docs))) AS i),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i, 50) AS g
        |  FROM docs JOIN idx ON i <= L - 50 + 1),
        |m AS (
        |  SELECT a.doc_id AS ci, b.doc_id AS bi, a.pos AS pa, b.pos AS pb
        |  FROM grams a JOIN grams b ON a.g = b.g
        |  WHERE a.doc_id >= 50 AND b.doc_id < 50),
        |runs AS (
        |  SELECT ci, bi, pa - pb AS diag, pa,
        |    pa - row_number() OVER (PARTITION BY ci, bi, pa - pb
        |                            ORDER BY pa) AS isl
        |  FROM m),
        |spans AS (
        |  SELECT ci, bi, count(*) + 50 - 1 AS slen
        |  FROM runs GROUP BY ci, bi, diag, isl),
        |hits AS (
        |  SELECT ci, count(DISTINCT bi) AS nb, max(slen) AS mx
        |  FROM spans GROUP BY ci)
        |SELECT d.doc_id,
        |  CASE WHEN h.ci IS NULL THEN 0 ELSE 1 END AS contaminated,
        |  CAST(coalesce(h.nb, 0) AS INT) AS n_bench_docs,
        |  CAST(coalesce(h.mx, 0) AS INT) AS max_span
        |FROM docs d LEFT JOIN hits h ON d.doc_id = h.ci
        |WHERE d.doc_id >= 50 ORDER BY d.doc_id""".stripMargin,

    "q86_contamination_spans" ->
      """WITH docs AS (SELECT doc_id, text, len(text) AS L FROM documents),
        |idx AS (SELECT unnest(generate_series(1,
        |  (SELECT max(L) FROM docs))) AS i),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i, 50) AS g
        |  FROM docs JOIN idx ON i <= L - 50 + 1),
        |m AS (
        |  SELECT a.doc_id AS ci, b.doc_id AS bi, a.pos AS pa, b.pos AS pb
        |  FROM grams a JOIN grams b ON a.g = b.g
        |  WHERE a.doc_id >= 50 AND b.doc_id < 50),
        |runs AS (
        |  SELECT ci, bi, pa - pb AS diag, pa,
        |    pa - row_number() OVER (PARTITION BY ci, bi, pa - pb
        |                            ORDER BY pa) AS isl
        |  FROM m)
        |SELECT ci AS corpus_id, bi AS bench_id,
        |  CAST(min(pa) AS INT) AS start_corpus,
        |  CAST(min(pa) - diag AS INT) AS start_bench,
        |  CAST(count(*) + 50 - 1 AS INT) AS span_len
        |FROM runs GROUP BY ci, bi, diag, isl
        |ORDER BY corpus_id, bench_id, start_corpus, start_bench""".stripMargin,

    "q90_coverage_survivors" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, lang, text, len(text) AS L FROM documents),
        |idx AS (SELECT unnest(generate_series(1,
        |  (SELECT max(L) FROM docs))) AS i),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i, 50) AS g
        |  FROM docs JOIN idx ON i <= L - 50 + 1),
        |m AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT da, db, pa - pb AS diag, pa,
        |    pa - row_number() OVER (PARTITION BY da, db, pa - pb
        |                            ORDER BY pa) AS isl
        |  FROM m),
        |spans AS (
        |  SELECT da, db, min(pa) AS sa, min(pa) - diag AS sb,
        |    count(*) + 50 - 1 AS slen
        |  FROM runs GROUP BY da, db, diag, isl),
        |ivboth AS (
        |  SELECT da, db, 'a' AS side, sa AS s, sa + slen AS e FROM spans
        |  UNION ALL
        |  SELECT da, db, 'b', sb, sb + slen FROM spans),
        |marked AS (
        |  SELECT da, db, side, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY da, db, side
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
        |  FROM ivboth),
        |isles AS (
        |  SELECT da, db, side, s, e,
        |    sum(nw) OVER (PARTITION BY da, db, side ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM marked),
        |cov AS (
        |  SELECT da, db, side, sum(cv) AS cov FROM (
        |    SELECT da, db, side, isl, max(e) - min(s) AS cv
        |    FROM isles GROUP BY da, db, side, isl)
        |  GROUP BY da, db, side),
        |pairs AS (
        |  SELECT ca.da AS id_a, ca.db AS id_b
        |  FROM cov ca JOIN cov cb
        |    ON ca.da = cb.da AND ca.db = cb.db
        |    AND ca.side = 'a' AND cb.side = 'b'
        |  JOIN docs la ON la.doc_id = ca.da
        |  JOIN docs lb ON lb.doc_id = ca.db
        |  WHERE round(greatest(ca.cov * 1.0 / la.L,
        |    cb.cov * 1.0 / lb.L), 6) >= 0.5),
        |edges AS (
        |  SELECT id_a AS s, id_b AS d FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |walk(id, comp) AS (
        |  SELECT DISTINCT s, s FROM edges
        |  UNION
        |  SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
        |labels AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
        |removed AS (SELECT id AS doc_id FROM labels WHERE id <> comp)
        |SELECT lang, count(*) AS n_survivors
        |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM removed)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q89_dedup_snapped" ->
      """WITH docs AS (SELECT doc_id, text, len(text) AS L FROM documents),
        |idx AS (SELECT unnest(generate_series(1,
        |  (SELECT max(L) FROM docs))) AS i),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i, 50) AS g
        |  FROM docs JOIN idx ON i <= L - 50 + 1),
        |m AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT da, db, pa - pb AS diag, pa,
        |    pa - row_number() OVER (PARTITION BY da, db, pa - pb
        |                            ORDER BY pa) AS isl
        |  FROM m),
        |spans AS (
        |  SELECT da, db, min(pa) AS sa, min(pa) - diag AS sb,
        |    count(*) + 50 - 1 AS slen
        |  FROM runs GROUP BY da, db, diag, isl),
        |ivals AS (SELECT db AS doc, sb AS s, sb + slen AS e FROM spans),
        |marked AS (
        |  SELECT doc, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
        |  FROM ivals),
        |isles AS (
        |  SELECT doc, s, e,
        |    sum(nw) OVER (PARTITION BY doc ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM marked),
        |cuts0 AS (
        |  SELECT doc, min(s) AS cs, max(e) AS ce
        |  FROM isles GROUP BY doc, isl),
        |snap AS (
        |  SELECT c.doc,
        |    CASE WHEN c.cs > 1
        |        AND regexp_matches(substr(d.text, c.cs - 1, 1), '^\S$')
        |        AND regexp_matches(substr(d.text, c.cs, 1), '^\S$')
        |      THEN length(regexp_extract(substr(d.text, 1, c.cs - 1),
        |        '(?s)^(.*\s)', 1)) + 1
        |      ELSE c.cs END AS s,
        |    CASE WHEN regexp_matches(substr(d.text, c.ce - 1, 1), '^\S$')
        |        AND regexp_matches(substr(d.text, c.ce, 1), '^\S$')
        |      THEN c.ce + length(regexp_extract(substr(d.text, c.ce),
        |        '^(\S*)', 1))
        |      ELSE c.ce END AS e
        |  FROM cuts0 c JOIN docs d ON d.doc_id = c.doc),
        |unfuse AS (
        |  SELECT s.doc,
        |    CASE WHEN s.s > 1
        |        AND regexp_matches(substr(d.text, s.s - 1, 1), '^\S$')
        |        AND regexp_matches(substr(d.text, s.e, 1), '^\S$')
        |        AND regexp_matches(substr(d.text, s.s, 1), '^\s$')
        |      THEN s.s + 1 ELSE s.s END AS s, s.e AS e
        |  FROM snap s JOIN docs d ON d.doc_id = s.doc),
        |marked2 AS (
        |  SELECT doc, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
        |  FROM unfuse),
        |isles2 AS (
        |  SELECT doc, s, e,
        |    sum(nw) OVER (PARTITION BY doc ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM marked2),
        |cuts AS (
        |  SELECT doc, min(s) AS cs, max(e) AS ce
        |  FROM isles2 GROUP BY doc, isl),
        |segs AS (
        |  SELECT doc, coalesce(lag(ce) OVER (PARTITION BY doc
        |      ORDER BY cs), 1) AS ks, cs AS ke
        |  FROM cuts
        |  UNION ALL
        |  SELECT c.doc, max(c.ce), max(d.L) + 1
        |  FROM cuts c JOIN docs d ON d.doc_id = c.doc GROUP BY c.doc),
        |cleaned AS (
        |  SELECT s.doc,
        |    string_agg(substr(d.text, s.ks, s.ke - s.ks), '' ORDER BY s.ks)
        |      AS txt,
        |    sum(s.ke - s.ks) AS kept
        |  FROM segs s JOIN docs d ON d.doc_id = s.doc GROUP BY s.doc)
        |SELECT d.doc_id,
        |  coalesce(c.txt, d.text) AS text_cleaned,
        |  CAST(d.L - coalesce(c.kept, d.L) AS INT) AS n_removed
        |FROM docs d LEFT JOIN cleaned c ON d.doc_id = c.doc
        |ORDER BY d.doc_id""".stripMargin,

    "q85_dedup_cleaned" ->
      """WITH docs AS (SELECT doc_id, text, len(text) AS L FROM documents),
        |idx AS (SELECT unnest(generate_series(1,
        |  (SELECT max(L) FROM docs))) AS i),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i, 50) AS g
        |  FROM docs JOIN idx ON i <= L - 50 + 1),
        |m AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT da, db, pa - pb AS diag, pa,
        |    pa - row_number() OVER (PARTITION BY da, db, pa - pb
        |                            ORDER BY pa) AS isl
        |  FROM m),
        |spans AS (
        |  SELECT da, db, min(pa) AS sa, min(pa) - diag AS sb,
        |    count(*) + 50 - 1 AS slen
        |  FROM runs GROUP BY da, db, diag, isl),
        |ivals AS (SELECT db AS doc, sb AS s, sb + slen AS e FROM spans),
        |marked AS (
        |  SELECT doc, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
        |  FROM ivals),
        |isles AS (
        |  SELECT doc, s, e,
        |    sum(nw) OVER (PARTITION BY doc ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM marked),
        |cuts AS (
        |  SELECT doc, min(s) AS cs, max(e) AS ce
        |  FROM isles GROUP BY doc, isl),
        |segs AS (
        |  SELECT doc, coalesce(lag(ce) OVER (PARTITION BY doc
        |      ORDER BY cs), 1) AS ks, cs AS ke
        |  FROM cuts
        |  UNION ALL
        |  SELECT c.doc, max(c.ce), max(d.L) + 1
        |  FROM cuts c JOIN docs d ON d.doc_id = c.doc GROUP BY c.doc),
        |cleaned AS (
        |  SELECT s.doc,
        |    string_agg(substr(d.text, s.ks, s.ke - s.ks), '' ORDER BY s.ks)
        |      AS txt,
        |    sum(s.ke - s.ks) AS kept
        |  FROM segs s JOIN docs d ON d.doc_id = s.doc GROUP BY s.doc)
        |SELECT d.doc_id,
        |  coalesce(c.txt, d.text) AS text_cleaned,
        |  CAST(d.L - coalesce(c.kept, d.L) AS INT) AS n_removed
        |FROM docs d LEFT JOIN cleaned c ON d.doc_id = c.doc
        |ORDER BY d.doc_id""".stripMargin,

    "q84_dup_coverage" ->
      """WITH docs AS (SELECT doc_id, text, len(text) AS L FROM documents),
        |idx AS (SELECT unnest(generate_series(1,
        |  (SELECT max(L) FROM docs))) AS i),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, substr(text, i, 50) AS g
        |  FROM docs JOIN idx ON i <= L - 50 + 1),
        |m AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT da, db, pa - pb AS diag, pa,
        |    pa - row_number() OVER (PARTITION BY da, db, pa - pb
        |                            ORDER BY pa) AS isl
        |  FROM m),
        |spans AS (
        |  SELECT da, db, min(pa) AS sa, min(pa) - diag AS sb,
        |    count(*) + 50 - 1 AS slen
        |  FROM runs GROUP BY da, db, diag, isl),
        |ivals AS (
        |  SELECT da AS doc, sa AS s, sa + slen AS e FROM spans
        |  UNION ALL
        |  SELECT db AS doc, sb AS s, sb + slen AS e FROM spans),
        |marked AS (
        |  SELECT doc, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
        |  FROM ivals),
        |isles AS (
        |  SELECT doc, s, e,
        |    sum(nw) OVER (PARTITION BY doc ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM marked),
        |cov AS (
        |  SELECT doc, sum(cv) AS dup FROM (
        |    SELECT doc, isl, max(e) - min(s) AS cv
        |    FROM isles GROUP BY doc, isl) GROUP BY doc)
        |SELECT d.doc_id,
        |  CAST(coalesce(c.dup, 0) AS INT) AS dup_chars,
        |  round(coalesce(c.dup, 0) * 1.0 / d.L, 4) AS dup_frac
        |FROM docs d LEFT JOIN cov c ON d.doc_id = c.doc
        |ORDER BY d.doc_id""".stripMargin,

    "q75_mix_sample" ->
      """SELECT source, count(*) AS n_kept,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tokens_kept
        |FROM documents
        |WHERE doc_id % 100 < CASE CAST(substr(source, 4) AS INT) % 3
        |  WHEN 0 THEN 60 WHEN 1 THEN 30 ELSE 10 END
        |GROUP BY source ORDER BY source""".stripMargin,

    // Planted truth: one pair per original (the verbatim copy), hamming 0.
    "q37_simhash_pairs" ->
      """SELECT doc_id AS id_a, doc_id + 1000 AS id_b, CAST(0 AS INT) AS hamming
        |FROM documents WHERE doc_id < 40
        |ORDER BY id_a, id_b""".stripMargin,

    // Exact-Jaccard truth (q36's SQL): LSH recall is 100% on this corpus
    // and the rerank score IS exact Jaccard, so the outputs coincide.
    "q38_minhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> array_to_string(t[i:i+2], ' '))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(c * 1.0 / (sa.n + sb.n - c), 6) AS est_jaccard
        |FROM inter
        |JOIN sizes sa ON id_a = sa.doc_id
        |JOIN sizes sb ON id_b = sb.doc_id
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "q65_stream_rollup" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same truth as the q49 batch sessionization — the streaming run must
    // reproduce it exactly (event-time semantics make that possible).
    "q66_stream_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
        |           - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
        |         OR CAST(floor(epoch(ts)) AS BIGINT)
        |           - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)),
        |sess AS (
        |  SELECT user_id, sec, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id
        |      ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx
        |  FROM marked)
        |SELECT user_id, session_idx, count(*) AS n_events,
        | round(sum(value), 2) AS sum_value,
        | max(sec) - min(sec) AS duration_sec
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // The streaming interval join must reproduce the batch self-join
    // truth exactly (event-time semantics; inner join emits eagerly).
    "q81_stream_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS s
        |  FROM events)
        |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |       p.s - c.s AS gap_sec
        |FROM e c JOIN e p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.s >= c.s AND p.s <= c.s + 1800
        |ORDER BY click_id, purchase_id""".stripMargin,

    "q64_neardup_survivors" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(t) - 1),
        |      i -> array_to_string(t[i:i+2], ' '))) AS s
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON id_a = sa.doc_id
        |  JOIN sizes sb ON id_b = sb.doc_id
        |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.2),
        |edges AS (
        |  SELECT id_a AS s, id_b AS d FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |walk(id, comp) AS (
        |  SELECT DISTINCT s, s FROM edges
        |  UNION
        |  SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id),
        |labels AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
        |removed AS (SELECT id AS doc_id FROM labels WHERE id <> comp)
        |SELECT lang, count(*) AS n_survivors
        |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM removed)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q59_pack_offsets" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
        |         - n_tokens AS BIGINT) AS start_off
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, start_off,
        |  CAST(start_off // 512 AS BIGINT) AS pack_id,
        |  CAST(start_off % 512 AS BIGINT) AS pack_off,
        |  (start_off % 512) + n_tokens > 512 AS crosses
        |FROM o ORDER BY doc_id""".stripMargin,

    "q60_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(max(c) AS BIGINT) AS mx, CAST(count(*) AS BIGINT) AS n_distinct
        |  FROM cnt GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |  round(CAST(mx AS DOUBLE) / n_tokens, 4) AS top_tok_ratio,
        |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS distinct_ratio,
        |  CAST(mx AS DOUBLE) / n_tokens > 0.1 AS repetitive
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q61_bpe_pieces" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+'))
        |    AS INT) AS n_bpe,
        |  round(CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+'))
        |    AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')), 4) AS pieces_per_word
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q39_cosine_topk" ->
      """SELECT vec_id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6)
        |    AS cos
        |FROM embeddings
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "q40_knn_exact" ->
      """SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[])), 6) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |        CAST(q.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin
  )

  /** q98 forces the two-phase sliced-extension kernel behind the same
    * exact brute-force truth as q83 (VERDICT r11 item 2: gate-scale
    * corpora auto-route single-phase, so without this twin the slow
    * path's bit-exactness would rest on the randomized-equivalence spec
    * alone). Identical oracle by construction: the routes are
    * bit-identical.
    */
  val oracles: Map[String, String] =
    oraclesBase +
      ("q98_dup_spans_twophase" -> oraclesBase("q83_dup_spans")) +
      // Line-level boilerplate dedup truth: identical closed-form doc
      // construction, line df over distinct docs, anti-join, ordered
      // reassembly — all-boilerplate docs come back as '' via the left
      // join, exactly the operator's totality contract.
      ("q99_line_dedup" ->
        """WITH docs AS (SELECT doc_id,
          |  'HDR ' || lang || chr(10) || text || chr(10) ||
          |  'PAIR ' || CAST(doc_id // 2 AS VARCHAR) || chr(10) ||
          |  'FTR ' || source AS t
          |FROM documents),
          |l AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM docs),
          |idx AS (SELECT unnest(generate_series(1,
          |  (SELECT max(len(ls)) FROM l))) AS i),
          |e AS (SELECT doc_id, CAST(i AS INT) AS idx, ls[i] AS ln
          |      FROM l JOIN idx ON i <= len(ls)),
          |hot AS (SELECT ln FROM e WHERE len(trim(ln)) >= 1
          |        GROUP BY ln HAVING count(DISTINCT doc_id) >= 3),
          |kept AS (SELECT e.doc_id, e.idx, e.ln
          |         FROM e ANTI JOIN hot USING (ln)),
          |agg AS (SELECT doc_id,
          |          string_agg(ln, chr(10) ORDER BY idx) AS text_cleaned,
          |          count(*) AS kept_n
          |        FROM kept GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(a.text_cleaned, '') AS text_cleaned,
          |  CAST(len(string_split(d.t, chr(10))) - coalesce(a.kept_n, 0)
          |    AS INT) AS n_removed_lines
          |FROM docs d LEFT JOIN agg a USING (doc_id)
          |ORDER BY doc_id""".stripMargin) +
      // Incremental-dedup truth: RAW TEXT-EQUALITY anti join over the
      // same snapshot/crawl construction — the hash gate holds only if
      // xxhash64-matching equals text-matching on this corpus (the
      // collision-freedom premise, re-verified every round).
      ("q100_incremental_dedup" ->
        """WITH existing AS (
          |  SELECT text FROM documents WHERE doc_id % 4 <> 0),
          |incoming AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 4 = 1 AND doc_id % 3 = 1)
          |SELECT i.doc_id, CAST(strlen(i.text) AS INT) AS n_bytes
          |FROM incoming i
          |WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.text = i.text)
          |ORDER BY doc_id""".stripMargin) +
      // Incremental NEAR-dup truth: exhaustive cross-Jaccard over the
      // same snapshot/crawl construction (the q36/q38 trigram SQL,
      // restricted to batch x snapshot pairs). Valid as a FULL oracle on
      // the same premise as q38: LSH recall is measured-100% on this
      // corpus's qualifying pairs, and the planted re-crawls' recall is
      // structural (identical shingle sets collide in every table).
      // Closed-form build properties (see q101_build_index): rows =
      // snapshot docs with >= 1 word 3-gram (>= 3 whitespace tokens of
      // trimmed text; null/blank texts yield none), tables = the
      // build-default 8 — derived independently of the engine, asserted
      // against the meta the build stamped on disk.
      ("q101_build_index" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(8 AS INT) AS n_tables
          |FROM documents
          |WHERE doc_id % 2 = 0
          |  AND len(string_split_regex(trim(text), '\s+')) >= 3""".stripMargin) +
      ("q101_incremental_neardup" ->
        """WITH snap AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
          |batch AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 10 = 2),
          |btoks AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM batch),
          |stoks AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM snap),
          |bsh AS (
          |  SELECT DISTINCT doc_id,
          |    unnest(list_transform(range(1, len(t) - 1),
          |      i -> array_to_string(t[i:i+2], ' '))) AS s
          |  FROM btoks),
          |ssh AS (
          |  SELECT DISTINCT doc_id,
          |    unnest(list_transform(range(1, len(t) - 1),
          |      i -> array_to_string(t[i:i+2], ' '))) AS s
          |  FROM stoks),
          |bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY doc_id),
          |ssz AS (SELECT doc_id, count(*) AS n FROM ssh GROUP BY doc_id),
          |inter AS (
          |  SELECT b.doc_id AS bid, a.doc_id AS sid, count(*) AS c
          |  FROM bsh b JOIN ssh a ON b.s = a.s
          |  GROUP BY 1, 2),
          |dups AS (
          |  SELECT DISTINCT bid FROM inter
          |  JOIN bsz ON bid = bsz.doc_id
          |  JOIN ssz ON sid = ssz.doc_id
          |  WHERE c * 1.0 / (bsz.n + ssz.n - c) >= 0.2)
          |SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes
          |FROM batch
          |WHERE doc_id NOT IN (SELECT bid FROM dups)
          |ORDER BY doc_id""".stripMargin)
}
