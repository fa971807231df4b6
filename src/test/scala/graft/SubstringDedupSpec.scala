package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.dedup.SubstringDedup
import graft.store.IndexStore

/** Substring-level dedup (winnowing anchors -> candidate pairs ->
  * char-level extension) against a brute-force diagonal-islands truth —
  * the same truth the q83/q84 DuckDB oracles compute, here in-process
  * over adversarial synthetic corpora (random small-alphabet text where
  * natural short repeats abound, plus planted long spans).
  */
class SubstringDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  /** All maximal cross-doc common spans >= minLen, by brute force:
    * matched minLen-gram positions merged along each diagonal.
    */
  private def bruteSpans(docs: Seq[(Long, String)],
                         minLen: Int): Set[(Long, Long, Int, Int, Int)] = {
    val out = scala.collection.mutable.Set.empty[(Long, Long, Int, Int, Int)]
    for {
      i <- docs.indices; j <- (i + 1) until docs.length
    } {
      val (ia, ta0) = docs(i); val (ib, tb0) = docs(j)
      val ((da, ta), (db, tb)) =
        if (ia < ib) ((ia, ta0), (ib, tb0)) else ((ib, tb0), (ia, ta0))
      // matched gram positions per diagonal
      val byGram = ta.sliding(minLen).zipWithIndex.toSeq
        .groupMap(_._1)(_._2)
      val matches = tb.sliding(minLen).zipWithIndex.toSeq.flatMap {
        case (g, pb) => byGram.getOrElse(g, Nil).map(pa => (pa - pb, pa))
      }
      matches.groupMap(_._1)(_._2).foreach { case (diag, pas) =>
        val sorted = pas.sorted
        var runStart = sorted.head; var prev = sorted.head
        def emit(s: Int, e: Int): Unit =
          out += ((da, db, s + 1, s - diag + 1, e - s + minLen))
        sorted.tail.foreach { p =>
          if (p != prev + 1) { emit(runStart, prev); runStart = p }
          prev = p
        }
        emit(runStart, prev)
      }
    }
    out.toSet
  }

  private def sparkSpans(docs: Seq[(Long, String)], minLen: Int, k: Int,
                         maxAnchorDf: Int = Int.MaxValue,
                         twoPhase: Option[Boolean] = None) =
    SubstringDedup.duplicateSpans(docs.toDF("doc_id", "text"),
        "text", "doc_id", minLen, k, maxAnchorDf, twoPhase = twoPhase)
      .as[(Long, Long, Int, Int, Int)].collect().toSet

  test("planted long spans are found with exact offsets and lengths") {
    val rng = new Random(7)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val shared = rand(120)
    val shared2 = rand(80)
    val docs = Seq(
      1L -> (rand(40) + shared + rand(30)),
      2L -> (rand(10) + shared + rand(60)),
      3L -> (shared2 + rand(50) + shared2), // internal repeat across docs
      4L -> (rand(70) + shared2),
      5L -> rand(200)) // clean
    val got = sparkSpans(docs, minLen = 50, k = 16)
    val want = bruteSpans(docs, 50)
    assert(got == want)
    // the 120-char plant lands at the exact offsets
    assert(got.contains((1L, 2L, 41, 11, 120)))
    // doc 3 repeats shared2 twice -> two spans vs doc 4, one per occurrence
    assert(got.count { case (a, b, _, _, _) => a == 3L && b == 4L } == 2)
    assert(got.forall(_._5 >= 50))
  }

  test("random small-alphabet corpora: anchor pipeline == brute force") {
    // 3-letter alphabet makes natural repeats plentiful right around the
    // threshold — the regime where a missed anchor or off-by-one in
    // extension/merging shows up. Winnowing guarantees every span
    // >= w + k - 1; brute force is the arbiter.
    for (seed <- Seq(1, 2, 3)) {
      val rng = new Random(seed)
      def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
      val docs = (0L until 12L).map(i => i -> rand(80 + rng.nextInt(120)))
      val minLen = 24
      val got = sparkSpans(docs, minLen, k = 8)
      val want = bruteSpans(docs, minLen)
      assert(got == want, s"seed $seed: got ${got.size}, want ${want.size}")
      // both explicit routes must be bit-identical on the same corpus
      // (slice verdicts + escalation == full-text extension everywhere);
      // got above took the auto route
      val single = sparkSpans(docs, minLen, k = 8, twoPhase = Some(false))
      val sliced = sparkSpans(docs, minLen, k = 8, twoPhase = Some(true))
      assert(got == single && got == sliced,
        s"seed $seed: route disagreement (auto/single/sliced)")
    }
  }

  test("docs shorter than minLen are skipped; self-pairs never emitted") {
    val docs = Seq(1L -> "abcdefghij", 2L -> "abcdefghij",
      3L -> ("xy" * 40))
    val got = sparkSpans(docs, minLen = 20, k = 8)
    // docs 1/2 are dups but < 20 chars; doc 3's internal repetition is a
    // self-pair (excluded by doc_a < doc_b)
    assert(got.isEmpty)
  }

  test("viral-anchor cap drops boilerplate-wide spans, keeps the rest") {
    val rng = new Random(11)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val boiler = rand(60) // shared by EVERY doc (footer boilerplate)
    val pair = rand(90)   // shared by exactly two docs
    val docs = (0L until 10L).map { i =>
      val extra = if (i < 2) pair else rand(90)
      i -> (rand(20) + boiler + rand(15) + extra)
    }
    val uncapped = sparkSpans(docs, minLen = 50, k = 16)
    assert(uncapped == bruteSpans(docs, 50))
    // cap at 4 docs/anchor: the 10-doc boilerplate spans vanish, the
    // 2-doc planted pair survives
    val capped = sparkSpans(docs, minLen = 50, k = 16, maxAnchorDf = 4)
    assert(capped.exists { case (a, b, _, _, len) =>
      a == 0L && b == 1L && len >= 90 })
    assert(capped.size < uncapped.size)
  }

  test("maxPosPerHash: low-entropy spam pair stays bounded, full copy found") {
    // Two identical 100k-char "ababab…" docs: every gram shares one hash
    // and winnowing selects EVERY position (constant hash sequence ->
    // rightmost-min per window), so uncapped the single pair would pack
    // ~1e10 seeds into one collect_list — the executor-OOM case the cap
    // exists for. Capped (default 64/hash/doc) the pair carries <= 64^2
    // seeds, and because verbatim copies cap to IDENTICAL surviving
    // positions, the diagonal-0 seed survives and extension still reports
    // the full-length copy exactly.
    val n = 100000
    val spam = ("ab" * (n / 2))
    val docs = Seq(1L -> spam, 2L -> spam)
    val got = sparkSpans(docs, minLen = 50, k = 16)
    assert(got.contains((1L, 2L, 1, 1, n)))
    // off-diagonal self-overlap spans (shift-by-2 etc.) are the documented
    // loss on degenerate text: only diagonals reachable from the first 64
    // positions survive. Every reported span must still be a TRUE span.
    assert(got.forall { case (_, _, sa, sb, len) =>
      spam.substring(sa - 1, sa - 1 + len) == spam.substring(sb - 1, sb - 1 + len)
    })
    // anchor cap held on both sides
    val (_, hashes) = graft.functions.WinnowAnchors.winnow(spam, 16, 35, 64)
    assert(hashes.groupBy(identity).values.map(_.size).max <= 64)
  }

  test("maxPosPerHash: default cap never engages on natural text") {
    val rng = new Random(31)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val shared = rand(150)
    val docs = Seq(
      1L -> (rand(40) + shared + rand(30)),
      2L -> (rand(25) + shared + rand(10)),
      3L -> rand(300))
    val capped = sparkSpans(docs, minLen = 50, k = 16)
    val uncapped = SubstringDedup.duplicateSpans(docs.toDF("doc_id", "text"),
        "text", "doc_id", 50, 16, Int.MaxValue, maxPosPerHash = Int.MaxValue)
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    assert(capped == uncapped)
    assert(capped == bruteSpans(docs, 50))
    // winnow prefix rule: capping keeps each hash's FIRST positions
    val (pos, hsh) = graft.functions.WinnowAnchors.winnow(docs.head._2, 16, 35)
    val (cpos, chsh) = graft.functions.WinnowAnchors.winnow(docs.head._2, 16, 35, 2)
    val firstTwo = hsh.zip(pos).groupBy(_._1).values
      .flatMap(v => v.map(_._2).sorted.take(2)).toSet
    assert(cpos.toSet == firstTwo && chsh.length == cpos.length)
  }

  test("crossSpans: corpus-vs-bench spans match brute force, both ways") {
    val rng = new Random(23)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val bench = (100L until 104L).map(i => i -> rand(120))
    val leak = bench.head._2.substring(10, 80) // 70-char benchmark leak
    val corpus = (0L until 8L).map { i =>
      val t = if (i == 3L) rand(30) + leak + rand(40) else rand(150)
      i -> t
    }
    val minLen = 24
    // brute truth restricted to (corpus, bench) sides — bruteSpans orders
    // by id, and corpus ids < bench ids here, so (da, db) = (corpus, bench)
    val want = bruteSpans(corpus ++ bench, minLen).filter {
      case (a, b, _, _, _) => a < 100L && b >= 100L }
    val got = SubstringDedup.crossSpans(
        corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
        "text", "doc_id", minLen, k = 8)
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    assert(got == want)
    assert(got.exists { case (c, b, _, sb, len) =>
      c == 3L && b == 100L && len >= 70 && sb == 11 })
  }

  test("verbatim long-doc copies: one span, linear-time extension") {
    // dedup's most common case — an exact copy of a LONG doc. Every
    // anchor of the copy pair sits on one diagonal; without the
    // covered-seed skip this is O(L^2/w). 60k chars finishes instantly
    // when linear and would take minutes quadratic.
    val rng = new Random(37)
    val big = Seq.fill(60000)(('a' + rng.nextInt(3)).toChar).mkString
    val docs = Seq(1L -> big, 2L -> big,
      3L -> big.substring(10000, 30000)) // interior 20k-char excerpt
    val t0 = System.nanoTime()
    val got = sparkSpans(docs, minLen = 50, k = 16)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.contains((1L, 2L, 1, 1, 60000)), s"full-copy span; got $got")
    assert(got.exists { case (a, b, sa, sb, len) =>
      a == 1L && b == 3L && sa == 10001 && sb == 1 && len == 20000 })
    assert(secs < 60, s"extension took $secs s — quadratic regression")
  }

  test("extendInSlice: verdicts split by slice visibility, spans exact") {
    // the phase-1 kernel behind the two-phase duplicateSpans — global
    // positions, ±minLen slices. k=4, minLen=10 keeps the strings
    // hand-checkable; S (slice slack) = minLen in the pipeline, so the
    // slice here is the substring [p-10, p+4+10) of each doc.
    val k = 4; val minLen = 10
    def slice(doc: String, p: Int): (String, Int) = {
      val off = math.max(0, p - minLen)
      (doc.substring(off, math.min(doc.length, p + k + minLen)), off)
    }
    def run(docA: String, pa: Int, docB: String, pb: Int): Array[Int] = {
      val (slA, offA) = slice(docA, pa); val (slB, offB) = slice(docB, pb)
      SubstringDedup.extendInSlice(slA, offA, docA.length, pa,
        slB, offB, docB.length, pb, k, minLen)
    }
    val shared = "qrstuvwxyzab" // 12 >= minLen: a true span
    val a1 = "cccccc" + shared + "dddddd"  // span at [6, 18)
    val b1 = "eee" + shared + "fff"        // span at [3, 15)
    // seed gram inside the span: both boundaries visible -> exact span
    assert(run(a1, 8, b1, 5).toSeq ==
      Seq(SubstringDedup.SliceSpan, 6, 3, 12))
    // every seed of the run reports the identical span (distinct dedups)
    assert(run(a1, 6, b1, 3).toSeq ==
      Seq(SubstringDedup.SliceSpan, 6, 3, 12))
    // shared gram that never grows to minLen -> reject (the boilerplate
    // case phase 1 exists to settle without full texts)
    val a2 = "mmmm" + "wxyz" + "nnnnnnnnnnnnnnnn"
    val b2 = "pppp" + "wxyz" + "qqqqqqqqqqqqqqqq"
    assert(run(a2, 4, b2, 4).head == SubstringDedup.SliceReject)
    // hash-collision shape: grams differ -> reject
    assert(SubstringDedup.extendInSlice("abcd", 0, 4, 0, "abce", 0, 4, 0,
      k, minLen).head == SubstringDedup.SliceReject)
    // run longer than the slice -> escalate (true boundary not visible)
    val longShared = "z" * 40
    val a3 = "gg" + longShared + "hh"
    val b3 = "ii" + longShared + "jj"
    assert(run(a3, 20, b3, 20).head == SubstringDedup.SliceEscalate)
    // doc boundary IS a real boundary: span to the very start of both
    // docs resolves exactly even though it touches the slice edge
    val a4 = shared + "kkkk"
    val b4 = shared + "llll"
    assert(run(a4, 0, b4, 0).toSeq ==
      Seq(SubstringDedup.SliceSpan, 0, 0, 12))
    // asymmetric: A's slice edge is A's doc start -> the run CANNOT
    // extend left regardless of B -> real boundary, exact
    val a5 = shared + "mm"
    val b5 = "nn" + shared + "oo"
    assert(run(a5, 1, b5, 3).toSeq ==
      Seq(SubstringDedup.SliceSpan, 0, 2, 12))
  }

  test("two-phase duplicateSpans: escalated long spans stay offset-exact") {
    // spans longer than the slice (k + 2*minLen = 116 at the default
    // k=16/minLen=50) MUST take the full-text escalation path; their
    // offsets and the coexistence with phase-1-sized spans stay exact
    val rng = new Random(91)
    def noise(n: Int) = Seq.fill(n)(('a' + rng.nextInt(20)).toChar).mkString
    val long = noise(400)   // escalates (400 > 116)
    val short = noise(60)   // settles in phase 1 (60 < 116)
    val docs = Seq(
      1L -> (noise(80) + long + noise(80)),
      2L -> (noise(30) + long + noise(200) + short),
      3L -> (short + noise(120)))
    // force the slice route: the tiny corpus would auto-route single
    val got = sparkSpans(docs, minLen = 50, k = 16, twoPhase = Some(true))
    assert(got == bruteSpans(docs, 50), s"two-phase != brute: $got")
    assert(got.exists { case (a, b, _, _, len) =>
      a == 1L && b == 2L && len == 400 }, s"long escalated span: $got")
    assert(got.exists { case (a, b, _, _, len) =>
      a == 2L && b == 3L && len == 60 }, s"short phase-1 span: $got")
  }

  test("span index: probe == crossSpans; append extends the corpus side") {
    val rng = new Random(31)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val corpus = (0L until 10L).map(i => i -> rand(120 + rng.nextInt(80)))
    val leak = corpus(2)._2.substring(10, 90)
    val batch1 = Seq(100L -> (rand(25) + leak + rand(25)), 101L -> rand(150))
    val minLen = 24
    val dir = java.nio.file.Files.createTempDirectory("spanidx").toString + "/idx"
    SubstringDedup.writeSpanIndex(corpus.toDF("doc_id", "text"),
      "text", "doc_id", dir, minLen, k = 8)
    val viaIndex = SubstringDedup.spansAgainstIndex(
        batch1.toDF("doc_id", "text"), "text", "doc_id", dir)
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    val direct = SubstringDedup.crossSpans(
        corpus.toDF("doc_id", "text"), batch1.toDF("doc_id", "text"),
        "text", "doc_id", minLen, k = 8)
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    assert(viaIndex == direct)
    assert(viaIndex.exists { case (c, b, _, _, len) =>
      c == 2L && b == 100L && len >= 80 })
    // append batch1; a later batch that copies batch1 content is caught
    // against the APPENDED docs, not just the original corpus
    SubstringDedup.appendToSpanIndex(batch1.toDF("doc_id", "text"),
      "text", "doc_id", dir, batchId = "b1")
    // retrying the SAME batchId is idempotent (overwrite, not duplicate)
    SubstringDedup.appendToSpanIndex(batch1.toDF("doc_id", "text"),
      "text", "doc_id", dir, batchId = "b1")
    val batch2 = Seq(200L -> (rand(30) + batch1(1)._2.substring(20, 100)))
    val round2 = SubstringDedup.spansAgainstIndex(
        batch2.toDF("doc_id", "text"), "text", "doc_id", dir)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(round2.exists { case (c, b, _, _, len) =>
      c == 101L && b == 200L && len >= 80 })
    assert(round2.groupBy(r => (r._1, r._2, r._3, r._4)).values
      .forall(_.size == 1), "no duplicate spans after append retry")
    // at-least-once safety: re-probing the ALREADY-APPENDED batch1 must
    // not report each doc as a full dup of itself (self-pair guard)
    val reprobe = SubstringDedup.spansAgainstIndex(
        batch1.toDF("doc_id", "text"), "text", "doc_id", dir)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(!reprobe.exists(r => r._1 == r._2), "self-pairs filtered")
    // an uncommitted partial batch is invisible to readers: a copy of
    // the base batch's data with no commit marker would double every
    // span it contributes if a reader opened it
    val sneaky = Seq(300L -> corpus(0)._2).toDF("doc_id", "text")
    SubstringDedup.duplicateSpans(sneaky, "text", "doc_id") // no-op warm
    SubstringDedup.SpanIndex.parts.foreach { part =>
      spark.read.parquet(IndexStore.dataPath(dir, part, "base"))
        .write.parquet(IndexStore.dataPath(dir, part, "partial"))
    }
    val afterPartial = SubstringDedup.spansAgainstIndex(
        batch2.toDF("doc_id", "text"), "text", "doc_id", dir)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(afterPartial.sorted.toSeq == round2.sorted.toSeq,
      "uncommitted batch dir ignored")
  }

  test("span index compaction: probe-invariant, crash-safe, idempotent") {
    val rng = new Random(47)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val corpus = (0L until 8L).map(i => i -> rand(120 + rng.nextInt(60)))
    val b1 = Seq(100L -> (rand(20) + corpus(3)._2.substring(5, 85) + rand(20)))
    val b2 = Seq(110L -> rand(140), 111L -> (rand(10) + b1.head._2.substring(15, 95)))
    val minLen = 24
    val dir = java.nio.file.Files.createTempDirectory("spanidxc").toString + "/idx"
    SubstringDedup.writeSpanIndex(corpus.toDF("doc_id", "text"),
      "text", "doc_id", dir, minLen, k = 8)
    SubstringDedup.appendToSpanIndex(b1.toDF("doc_id", "text"),
      "text", "doc_id", dir, batchId = "b1")
    SubstringDedup.appendToSpanIndex(b2.toDF("doc_id", "text"),
      "text", "doc_id", dir, batchId = "b2")
    val probe = Seq(200L -> (rand(15) + corpus(3)._2.substring(5, 85)),
      201L -> (b2(1)._2.substring(5, 70) + rand(25))).toDF("doc_id", "text")
    def spans() = SubstringDedup.spansAgainstIndex(probe, "text", "doc_id", dir)
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    val before = spans()
    assert(before.exists(_._1 == 3L) && before.exists(_._1 == 111L),
      "probe hits base AND appended docs pre-compaction")
    def batchNames() = IndexStore.onDisk(spark, dir, SubstringDedup.SpanIndex)
    // CRASH WINDOW: compacted batch committed, sources NOT yet deleted —
    // both generations on disk; readers must see exactly one (no double
    // counting: duplicated texts would double every probe span row)
    IndexStore.compact(spark, dir, SubstringDedup.SpanIndex, "c1",
      IndexStore.Stop.AfterCommit)(SubstringDedup.rewriteSpans(spark, dir, "c1"))
    assert(batchNames() == Set("base", "b1", "b2", "c1"))
    assert(spans() == before, "mid-crash index reads as one generation")
    // retrying the SAME compaction finishes the interrupted deletes
    SubstringDedup.compactSpanIndex(spark, dir, "c1")
    assert(batchNames() == Set("c1"), "sources deleted on retry")
    assert(spans() == before, "compaction is probe-invariant")
    // the index stays appendable after compaction (params sidecar intact)
    val b3 = Seq(300L -> (rand(12) + corpus(5)._2.substring(10, 90)))
    SubstringDedup.appendToSpanIndex(b3.toDF("doc_id", "text"),
      "text", "doc_id", dir, batchId = "b3")
    val probe2 = Seq(400L -> (b3.head._2.substring(8, 80) + rand(30)))
      .toDF("doc_id", "text")
    val after = SubstringDedup.spansAgainstIndex(probe2, "text", "doc_id", dir)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(after.exists(_._1 == 300L), "post-compaction append probed")
    // second-generation compaction (compacted + new batches)
    SubstringDedup.compactSpanIndex(spark, dir, "c2")
    assert(batchNames() == Set("c2"))
    assert(spans() == before)
    // a batch name in a LIVE compaction manifest (c2 lists c1, b3) is
    // reader-invisible — re-appending under it must refuse, not silently
    // hide data; names only DELETED manifests knew (b1) are free again
    val exApp = intercept[IllegalArgumentException] {
      SubstringDedup.appendToSpanIndex(b3.toDF("doc_id", "text"),
        "text", "doc_id", dir, batchId = "b3")
    }
    assert(exApp.getMessage.contains("consumed"))
    // compacting INTO a live append batch's name is an id collision, not
    // a silent no-op
    SubstringDedup.appendToSpanIndex(b3.toDF("doc_id", "text"),
      "text", "doc_id", dir, batchId = "b4")
    val exCol = intercept[IllegalArgumentException] {
      SubstringDedup.compactSpanIndex(spark, dir, "b4")
    }
    assert(exCol.getMessage.contains("collides"))
  }

  test("span-index compaction after appends leaves one live batch, spans reachable") {
    val rng = new Random(59)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val corpus = (0L until 6L).map(i => i -> rand(140))
    val dir = java.nio.file.Files.createTempDirectory("spanidxa").toString + "/idx"
    SubstringDedup.writeSpanIndex(corpus.toDF("doc_id", "text"),
      "text", "doc_id", dir, minLen = 24, k = 8)
    def batchNames() = IndexStore.onDisk(spark, dir, SubstringDedup.SpanIndex)
    // one batch carries a copy of corpus doc 2 so probe-equality has
    // batch-resident truth to find after the compaction
    val probe = Seq(200L -> (rand(15) + corpus(2)._2.substring(5, 85)))
      .toDF("doc_id", "text")
    for (b <- 0 until 6) {
      val batch = Seq((100L + b) ->
        (rand(20) + (if (b == 1) corpus(2)._2.substring(5, 85) else rand(90))))
      SubstringDedup.appendToSpanIndex(
        batch.toDF("doc_id", "text"), "text", "doc_id", dir, batchId = s"b$b")
    }
    assert(batchNames().size == 7, s"base + 6 appends: ${batchNames()}")
    SubstringDedup.compactSpanIndex(spark, dir, "compacted")
    assert(IndexStore.live(spark, dir) == Seq("compacted") &&
      batchNames() == Set("compacted"), s"one batch after compaction: ${batchNames()}")
    // probe still finds base- and batch-resident spans (content intact)
    val spans = SubstringDedup.spansAgainstIndex(probe, "text", "doc_id", dir)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(spans.exists(_._1 == 2L), "base doc reachable after compaction")
    assert(spans.exists(_._1 == 101L), "appended doc reachable after compaction")
  }

  test("fresh-id compaction after a crashed predecessor cannot resurrect sources") {
    val rng = new Random(53)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val corpus = (0L until 6L).map(i => i -> rand(140))
    val b1 = Seq(100L -> (rand(20) + corpus(2)._2.substring(5, 85) + rand(20)))
    val dir = java.nio.file.Files.createTempDirectory("spanidxr").toString + "/idx"
    SubstringDedup.writeSpanIndex(corpus.toDF("doc_id", "text"),
      "text", "doc_id", dir, minLen = 24, k = 8)
    SubstringDedup.appendToSpanIndex(b1.toDF("doc_id", "text"),
      "text", "doc_id", dir, batchId = "b1")
    val probe = Seq(200L -> (rand(15) + corpus(2)._2.substring(5, 85)))
      .toDF("doc_id", "text")
    def spans() = SubstringDedup.spansAgainstIndex(probe, "text", "doc_id", dir)
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    def batchNames() = IndexStore.onDisk(spark, dir, SubstringDedup.SpanIndex)
    val before = spans()
    // c1 crashes AFTER its _COMMIT, before deleting sources: base and b1
    // sit on disk hidden only by c1's live _REPLACES manifest
    IndexStore.compact(spark, dir, SubstringDedup.SpanIndex, "c1",
      IndexStore.Stop.AfterCommit)(SubstringDedup.rewriteSpans(spark, dir, "c1"))
    assert(batchNames() == Set("base", "b1", "c1"))
    // the NEXT scheduled compaction uses a FRESH id (the API mandates
    // fresh ids). It must finish c1's pending deletes first: otherwise
    // its own source-set is just [c1], and deleting c1 at the end removes
    // the only manifest hiding base/b1 — resurrecting them next to c2's
    // copy of their data, doubling every affected probe span
    SubstringDedup.compactSpanIndex(spark, dir, "c2")
    assert(batchNames() == Set("c2"),
      s"stale sources resurrected: ${batchNames()}")
    assert(spans() == before, "probe must be unchanged, not doubled")
  }

  test("writeSpanIndex rebuild resets the whole index, not just base") {
    val rng = new Random(59)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val corpus = (0L until 4L).map(i => i -> rand(140))
    val b1 = Seq(100L -> rand(140))
    val dir = java.nio.file.Files.createTempDirectory("spanidxw").toString + "/idx"
    SubstringDedup.writeSpanIndex(corpus.toDF("doc_id", "text"),
      "text", "doc_id", dir, minLen = 100, k = 8)
    SubstringDedup.appendToSpanIndex(b1.toDF("doc_id", "text"),
      "text", "doc_id", dir, batchId = "b1")
    // in-place rebuild with DIFFERENT params: the old b1 batch was
    // winnowed with w=93 — leaving it visible under the minLen=24
    // sidecar is the mixed-parameter index the sidecar exists to prevent
    SubstringDedup.writeSpanIndex(corpus.toDF("doc_id", "text"),
      "text", "doc_id", dir, minLen = 24, k = 8)
    val names = IndexStore.onDisk(spark, dir, SubstringDedup.SpanIndex)
    assert(names == Set("base"), s"rebuild must drop stale batches: $names")
  }

  test("supplementary-plane text: offsets are code points (substr-exact)") {
    // 4 astral chars (2 UTF-16 units each) BEFORE the planted span: a
    // UTF-16-based pipeline would report starts off by 4 and the substr
    // round-trip below would slice the wrong chars.
    val astral = "😀😁😂😃" // 😀😁😂😃
    val span = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq( // post-span chars differ so the run ends AT the span
      1L -> (astral + span + " tail one 🚀 padding padding"),
      2L -> ("prefix two " + span + "-other tail"))
    val got = SubstringDedup.duplicateSpans(docs.toDF("doc_id", "text"),
        "text", "doc_id", minLen = 40, k = 16)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(got.length == 1)
    val (_, _, sa, sb, len) = got.head
    assert(sa == 5 && sb == 12 && len == span.length,
      s"code-point offsets: got ($sa, $sb, $len)")
    // the substr contract the offsets promise: slicing doc A at
    // (start_a, span_len) in code points yields exactly the span
    val sliced = docs.head._2.codePoints().toArray
      .slice(sa - 1, sa - 1 + len).map(Character.toChars).flatten
    assert(new String(sliced) == span)
    // and removal cuts doc 2's copy exactly, astral chars untouched
    val cleaned = SubstringDedup.removeDuplicateSpans(
        docs.toDF("doc_id", "text"), "text", "doc_id", minLen = 40, k = 16)
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(cleaned(0)._2 == docs.head._2 && cleaned(0)._3 == 0)
    assert(cleaned(1)._2 == docs(1)._2.replace(span, ""))
    assert(cleaned(1)._3 == len)
  }

  test("contaminationFilter verdicts == crossSpans truth; streams clean") {
    val rng = new Random(29)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val bench = (100L until 104L).map(i => i -> rand(120))
    val corpus = (0L until 12L).map { i =>
      val t =
        if (i % 4 == 1) rand(20) + bench((i % 4).toInt)._2.substring(5, 75) + rand(30)
        else rand(140)
      i -> t
    }
    val minLen = 24
    // truth from the batch pair operator
    val spans = graft.dedup.SubstringDedup.crossSpans(
        corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
        "text", "doc_id", minLen, k = 8)
      .as[(Long, Long, Int, Int, Int)].collect()
    val truth = spans.groupBy(_._1).map { case (c, ss) =>
      c -> (ss.map(_._2).distinct.size, ss.map(_._5).max) }
    val got = graft.streaming.Streams.contaminationFilter(
        corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
        "text", "doc_id", minLen, k = 8)
      .select("doc_id", "contaminated", "n_bench_docs", "max_span")
      .as[(Long, Boolean, Int, Int)].collect()
    assert(got.length == corpus.length)
    got.foreach { case (id, c, n, mx) =>
      truth.get(id) match {
        case Some((tn, tmx)) =>
          assert(c && n == tn && mx == tmx, s"doc $id: ($c,$n,$mx) vs $tn,$tmx")
        case None => assert(!c && n == 0 && mx == 0, s"doc $id clean")
      }
    }
    assert(got.count(_._2) == 3, "the three planted leaks")
    // and on a REAL stream: same verdicts, stateless append mode
    val dir = java.nio.file.Files.createTempDirectory("decon").toString + "/docs"
    corpus.toDF("doc_id", "text").coalesce(1).write.parquet(dir)
    val stream = spark.readStream
      .schema("doc_id long, text string").parquet(dir)
    val streamed = graft.streaming.Streams.runToMemory(
        graft.streaming.Streams.contaminationFilter(stream,
          bench.toDF("doc_id", "text"), "text", "doc_id", minLen, k = 8),
        s"decon_${System.nanoTime}", "append")
      .select("doc_id", "contaminated", "n_bench_docs", "max_span")
      .as[(Long, Boolean, Int, Int)].collect()
    assert(streamed.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
  }

  test("contaminationFilter refuses an over-budget bench side") {
    val docs = Seq(1L -> ("a" * 100)).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.contaminationFilter(docs, docs,
        "text", "doc_id", minLen = 24, k = 8, maxBenchBytes = 10L)
    }
  }

  test("contamination counts DISTINCT bench doc ids; case-safe temp cols") {
    val rng = new Random(61)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val leak = rand(80)
    // the SAME bench doc appears twice (duplicated row, same id): a
    // contaminated corpus doc shares spans with both sidecar rows but
    // must report n_bench_docs = 1, crossSpans' distinct-bench-id truth
    val bench = Seq(7L -> leak, 7L -> leak, 8L -> rand(80))
    val corpus = Seq(100L -> (rand(10) + leak.substring(5, 70) + rand(10)),
      101L -> rand(90))
      // a caller column differing only in CASE from the temp name must
      // survive (withColumn resolves case-insensitively by default)
      .toDF("doc_id", "text")
      .withColumn("_V", org.apache.spark.sql.functions.lit("keep"))
    val out = graft.streaming.Streams.contaminationFilter(corpus,
        bench.toDF("doc_id", "text"), "text", "doc_id", minLen = 24, k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("contaminated"), r.getAs[Int]("n_bench_docs"),
          r.getAs[String]("_V"))).toMap
    assert(out(100L)._1 && out(100L)._2 == 1,
      s"duplicated bench doc must count once: ${out(100L)}")
    assert(!out(101L)._1)
    assert(out(100L)._3 == "keep", "caller's _V column must survive")
  }

  test("span removal cuts higher-id copies only; brute-force parity") {
    val rng = new Random(17)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val docs = (0L until 10L).map(i => i -> rand(100 + rng.nextInt(100)))
    val minLen = 24
    val want = bruteSpans(docs, minLen)
    // brute-force removal: mark chars covered by any span where this doc
    // is the HIGHER id, keep the rest in order
    val expect = docs.map { case (id, t) =>
      val cut = new Array[Boolean](t.length)
      want.foreach { case (_, b, _, sb, len) =>
        if (b == id) (sb - 1 until sb - 1 + len).foreach(cut(_) = true)
      }
      id -> t.zipWithIndex.collect { case (c, i) if !cut(i) => c }.mkString
    }.toMap
    val got = SubstringDedup.removeDuplicateSpans(docs.toDF("doc_id", "text"),
        "text", "doc_id", minLen, k = 8)
      .as[(Long, String, Int)].collect()
    assert(got.length == docs.length)
    got.foreach { case (id, cleaned, nRemoved) =>
      assert(cleaned == expect(id), s"doc $id")
      assert(nRemoved == docs.find(_._1 == id).get._2.length - cleaned.length)
    }
    // lower ids keep their text: doc 0 must be untouched
    assert(got.find(_._1 == 0L).get._3 == 0)
  }

  test("snapToWords removal cuts whole words, never leaves stumps") {
    // span boundaries planted MID-WORD: "keepme ab|CDEF...|xy tail" — the
    // char-exact cut leaves stumps "ab"/"xy"; word snapping removes the
    // boundary words entirely.
    val core = "zqj " * 30 // 120-char duplicated core, word-aligned inside
    val span = "ab" + core.trim + " xy" // stump chars fused to real words
    val docs = Seq(
      1L -> ("alpha beta " + "gamab" + core.trim + " xydelta epsilon"),
      2L -> ("one two " + "drab" + core.trim + " xylem four"))
    // sanity: the shared maximal span starts/ends mid-word in both docs
    val spans = SubstringDedup.duplicateSpans(docs.toDF("doc_id", "text"),
      "text", "doc_id", minLen = 50, k = 16)
      .as[(Long, Long, Int, Int, Int)].collect()
    assert(spans.nonEmpty)
    val snapped = SubstringDedup.removeDuplicateSpans(
        docs.toDF("doc_id", "text"), "text", "doc_id",
        minLen = 50, k = 16, snapToWords = true)
      .as[(Long, String, Int)].collect().sortBy(_._1)
    // doc 1 (lower id) keeps everything; doc 2's cut swallows the whole
    // boundary words ("drab..." and "...xylem"), leaving clean words only
    assert(snapped(0)._2 == docs.head._2 && snapped(0)._3 == 0)
    val cleaned = snapped(1)._2
    assert(cleaned == "one two  four" || cleaned.trim == "one two four",
      s"got '$cleaned'")
    // no partial-word stumps: every whitespace token of the cleaned text
    // is a token of the original
    val orig = docs(1)._2.split("\\s+").toSet
    assert(cleaned.trim.split("\\s+").filter(_.nonEmpty).forall(orig))
    // a span that starts/ends exactly ON whitespace must NOT swallow the
    // intact neighbor words: the whole dup region here is word-aligned
    // (" <core> "), so snapping changes nothing and "two"/"four" survive
    val aligned = Seq(
      10L -> ("alpha beta " + core.trim + " gamma delta"),
      11L -> ("one two " + core.trim + " four five"))
    val snappedAligned = SubstringDedup.removeDuplicateSpans(
        aligned.toDF("doc_id", "text"), "text", "doc_id",
        minLen = 50, k = 16, snapToWords = true)
      .as[(Long, String, Int)].collect().sortBy(_._1)
    val keptWords = snappedAligned(1)._2.trim.split("\\s+").toSet
    assert(keptWords.contains("two") && keptWords.contains("four"),
      s"intact neighbors survived unfused: '${snappedAligned(1)._2}'")
    assert(snappedAligned(1)._2 == "one two four five",
      s"separator donated back: '${snappedAligned(1)._2}'")
  }

  test("coverage pairs: containment scores by the smaller side") {
    val rng = new Random(41)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val big = rand(400)
    val docs = Seq(
      1L -> big,
      2L -> big.substring(50, 150), // wholly contained 100-char excerpt
      3L -> (big.substring(0, 80) + rand(300)), // 80/380 of doc3, 80/400 of doc1
      4L -> rand(200))
    val pairs = graft.dedup.SubstringDedup.coverageNearDupPairs(
        docs.toDF("doc_id", "text"), "text", "doc_id",
        minCoverage = 0.5, minLen = 24, k = 8)
      .as[(Long, Long, Double)].collect()
    // doc2 is contained in doc1: coverage 1.0 on the smaller side even
    // though it is only 25% of doc1 (symmetric Jaccard would miss it)
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 })
    // doc3 shares only ~21% of its own length -> below 0.5, no pair
    assert(!pairs.exists { case (a, b, _) => a == 1L && b == 3L })
    assert(!pairs.exists { case (a, b, _) => b == 4L || a == 4L })
  }

  test("coverage stats: interval union matches brute force, clean docs 0") {
    val rng = new Random(13)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(3)).toChar).mkString
    val docs = (0L until 10L).map(i => i -> rand(100 + rng.nextInt(100)))
    val minLen = 24
    val want = bruteSpans(docs, minLen)
    // brute-force per-doc union of covered chars
    val byDoc = docs.map { case (id, t) =>
      val marks = new Array[Boolean](t.length)
      want.foreach { case (a, b, sa, sb, len) =>
        if (a == id) (sa - 1 until sa - 1 + len).foreach(marks(_) = true)
        if (b == id) (sb - 1 until sb - 1 + len).foreach(marks(_) = true)
      }
      id -> marks.count(identity)
    }.toMap
    val got = SubstringDedup.duplicateCharStats(docs.toDF("doc_id", "text"),
        "text", "doc_id", minLen, k = 8)
      .as[(Long, Int, Double)].collect()
    assert(got.length == docs.length, "every doc reported")
    got.foreach { case (id, dup, frac) =>
      assert(dup == byDoc(id), s"doc $id")
      val len = docs.find(_._1 == id).get._2.length
      assert(math.abs(frac - dup.toDouble / len) < 5e-5)
    }
  }

  test("auto-route measures derived-frame bytes (both budget sides), " +
       "immune to Catalyst's 1e5x plan-stat inflation") {
    import org.apache.spark.sql.functions._
    // a DERIVED corpus frame, same shape as q88's survivor composition:
    // groupBy + self-join upstream, so Par.pinIfDerived pins it
    val base = (0L until 40L).map(i => (i, "x" * 200 + i.toString)).toDF("doc_id", "text")
    val derived = base.groupBy("doc_id").agg(first("text").as("text"))
      .join(base.select(col("doc_id")), "doc_id")
    val texts = graft.ops.Par.pinIfDerived("spec.route.texts",
      derived.select(col("doc_id").cast("long").as("doc"), col("text")))
    assert(texts.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "derived frame must arrive pinned (the measured-agg precondition)")
    val trueBytes = texts.agg(sum(octet_length(col("text"))))
      .first().getLong(0)
    // r11 defect shape: the optimizer's estimate diverges from true
    // bytes on derived inputs (parquet-derived survivor frames inflate
    // ~1e5x — judge-measured 23.6 GB for 250 KB; this local-relation
    // composition misses ~5x the other way) — routing on it picks a
    // phase unrelated to the actual corpus size
    val statBytes = texts.queryExecution.optimizedPlan.stats.sizeInBytes
    assert((statBytes - BigInt(trueBytes)).abs * 2 > BigInt(trueBytes),
      s"expected divergent plan stats, got $statBytes vs true $trueBytes")
    // measured routing: single-phase below the budget...
    assert(!SubstringDedup.routeTwoPhase(texts, measured = true,
      budget = trueBytes + 1))
    // ...two-phase above it
    assert(SubstringDedup.routeTwoPhase(texts, measured = true,
      budget = trueBytes - 1))
    // bare scan+filter+project stays on (accurate) plan stats: no pin,
    // no measuring scan
    val bare = base.select(col("doc_id").cast("long").as("doc"),
      col("text")).filter(length(col("text")) >= 10)
    assert(bare.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    val bareStats = bare.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(SubstringDedup.routeTwoPhase(bare, measured = false,
      budget = (bareStats - 1).toLong) &&
      !SubstringDedup.routeTwoPhase(bare, measured = false,
        budget = (bareStats + 1).toLong))
    graft.ops.Par.unpin("spec.route.texts", texts)
  }
}
