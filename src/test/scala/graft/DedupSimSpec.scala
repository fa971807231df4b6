package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.store.IndexStore
import graft.text.TextFunctions

class DedupSimSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  /** The live rows of an IVF index's cells. */
  private def cells(dir: String) =
    IndexStore.read(spark, dir, Similarity.IvfIndex, "cells")

  private def corpus = {
    val rng = new Random(3)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val originals = (0L until 40L).map(i => (i, doc(30)))
    // plant: 2 exact dups, 1 near-dup (one word changed)
    val planted = Seq(
      (100L, originals(0)._2),
      (101L, originals(1)._2),
      (102L, originals(2)._2.replaceFirst("\\w+", "omega")))
    (originals ++ planted).toDF("doc_id", "text")
  }

  test("exact dedup keeps the smallest id per fingerprint") {
    val survivors = Dedup.exact(corpus, "text", "doc_id")
    assert(survivors.count() == 41, "43 docs - 2 exact dups")
    val ids = survivors.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(100L) && !ids.contains(101L))
    assert(ids.contains(0L) && ids.contains(1L) && ids.contains(102L))
  }

  test("ngram jaccard finds exact and near dup pairs") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
      n = 3, minJaccard = 0.5, maxShingleDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 100L)) && keys.contains((1L, 101L)))
    assert(keys.contains((2L, 102L)), s"near-dup pair missing: ${keys.toSeq.sorted}")
    assert(pairs.filter(p => p._2 >= 100L).forall(_._3 >= 0.5))
  }

  test("contamination scan flags corpus docs overlapping the bench set") {
    // bench doc 0's text is copied verbatim into corpus doc 100 (28 shared
    // trigrams) and near-copied into none; unrelated random docs share
    // trigrams only by chance (12-word vocab → some 2-gram noise, so pin
    // with a high minShared)
    val bench = corpus.filter(col("doc_id") === 0L || col("doc_id") === 5L)
    val rest = corpus.filter(col("doc_id") =!= 0L && col("doc_id") =!= 5L)
    val hits = Dedup.contaminationStats(rest, bench, "text", "doc_id",
      n = 3, minShared = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hits.exists { case (b, nc, mx) => b == 0L && nc >= 1 && mx >= 20 },
      s"verbatim copy not flagged: $hits")
    assert(!hits.exists(_._1 == 5L), s"clean bench doc flagged: $hits")
    // plan shape: bench side broadcast — corpus index never shuffles
    // before the pair aggregation
    val stats = Dedup.contaminationStats(rest, bench, "text", "doc_id")
    assert(PlanNodes.has(stats, "BroadcastHashJoin"),
      PlanNodes.of(stats).map(_.nodeName))
  }

  test("minhash LSH recalls the planted dups") {
    val pairs = Dedup.minhashPairs(corpus, "text", "doc_id",
      n = 3, numHashTables = 8, minJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)) && pairs.contains((1L, 101L)))
    assert(pairs.contains((2L, 102L)))
  }

  test("q38 oracle guard: minhash equals exhaustive jaccard on testdata") {
    // The q38 DuckDB oracle asserts the LSH output EQUALS the exhaustive
    // q36 truth (exact-jaccard rerank + 100% recall at 8 tables). This
    // pins that premise against the real documents table, so a recall
    // regression fails here before it fails the driver's gate.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      math.round(r.getDouble(2) * 1e6))
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      n = 3, minJaccard = 0.2, maxShingleDf = Int.MaxValue)
      .collect().map(key).toSet
    val lsh = Dedup.minhashPairs(docs, "text", "doc_id",
      n = 3, numHashTables = 8, minJaccard = 0.2)
      .collect().map(key).toSet
    assert(lsh == exact,
      s"missed=${(exact -- lsh).toSeq.sorted} spurious=${(lsh -- exact).toSeq.sorted}")
  }

  test("hashed rerank premise: zero xxhash64 collisions among distinct " +
       "shingles on the oracle corpora; randomized string-set parity") {
    // minhashPairs reranks over ShingleHashes (64-bit content hashes of
    // the shingles); its Jaccard equals the string-set Jaccard iff no
    // two DISTINCT shingles collide. Pin that premise on the corpora the
    // driver's gate runs (sf0.001 verified here; sf0.01 = the gate's SF).
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val sh = Tables.documents(spark, d)
        .select(explode(graft.text.TextFunctions
          .distinctWordNGrams(col("text"), 3)).as("s"))
      val r = sh.agg(countDistinct(col("s")),
        countDistinct(xxhash64(col("s")))).first()
      assert(r.getLong(0) == r.getLong(1),
        s"$d: ${r.getLong(0)} distinct shingles vs ${r.getLong(1)} hashes")
    }
    // randomized parity: hashed-merge jaccard == string-hash-set jaccard
    // over arbitrary shingle-set pairs (duplicate-free, as the builders
    // emit) — the kernel-level equivalence under codegen
    val rng = new scala.util.Random(7)
    val docs = (0L until 60L).map { i =>
      val words = Seq.fill(5 + rng.nextInt(40))(
        s"w${rng.nextInt(120)}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val sets = docs.select(col("doc_id"), graft.text.TextFunctions
      .distinctWordNGrams(col("text"), 2).as("sh"))
      .filter(size(col("sh")) > 0)
    val pairs = sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(
        graft.functions.IntersectCount(col("a.sh"), col("b.sh")).as("si"),
        graft.functions.SortedIntersectCount(
          graft.functions.ShingleHashes(col("a.sh")),
          graft.functions.ShingleHashes(col("b.sh"))).as("hi"),
        size(col("a.sh")).as("na"),
        graft.functions.ShingleHashes(col("a.sh")).as("ha"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"string vs hashed intersection: $r")
      assert(r.getInt(2) == r.getSeq[Long](3).length,
        "ShingleHashes preserves set size")
      val hs = r.getSeq[Long](3)
      assert(hs == hs.sorted, "ShingleHashes emits sorted arrays")
    }
  }

  test("components chain transitively; survivors keep one doc per group") {
    // 1-2, 2-3 chain (3 never pairs with 1 directly) + separate 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L),
      s"got $comp")
    val docs = Seq(1L, 2L, 3L, 7L, 10L, 11L).toDF("doc_id")
    val surv = Dedup.survivors(docs, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 7L, 10L), "min per component + unpaired docs")
    // the driver union-find fast path and the distributed propagation
    // loop must compute the SAME fixpoint (auto-route equivalence)
    val dist = Dedup.components(pairs, driverEdgeBudget = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == comp, s"distributed $dist != driver $comp")
  }

  test("components: pointer jumping converges a deep chain within maxIter") {
    // a 5000-link chain has diameter 5000 — neighbor propagation alone
    // needs 5000 rounds and previously RAISED at the default maxIter=20.
    // Label doubling makes rounds O(log diameter): ~13 here. Deep chains
    // are real near-dup structure (truncation families, rolling edits),
    // not a pathological corner.
    val n = 5000L
    val pairs = spark.range(0, n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val comp = Dedup.components(pairs, driverEdgeBudget = 0L) // distributed
    val agg = comp.agg(count(lit(1)), countDistinct(col("comp")),
      min(col("comp"))).head()
    assert(agg.getLong(0) == n, "every chain node labeled")
    assert(agg.getLong(1) == 1 && agg.getLong(2) == 0L,
      "one component, min-id label")
  }

  test("components with non-integral/string ids bypass the driver route") {
    // decimal ids 9 and 10: toString ordering would pick "10" < "9" and
    // the old driver fallback would mislabel the component min; the
    // driver-orderable gate must route these to the distributed loop,
    // whose least() orders decimals numerically
    val pairs = Seq((BigDecimal(9), BigDecimal(10)))
      .toDF("id_a", "id_b")
    val comp = Dedup.components(pairs) // well under the driver budget
      .collect().map(r => r.getDecimal(0).intValue() -> r.getDecimal(1).intValue())
      .toMap
    assert(comp == Map(9 -> 9, 10 -> 9), s"got $comp")
  }

  test("autoPlanes scales bits with corpus at fixed bucket density") {
    import graft.sim.Similarity.autoPlanes
    assert(autoPlanes(1000) == 16, "small corpus floors at 4-bit bands")
    assert(autoPlanes(100000) == 44, "100k -> 11-bit bands")
    assert(autoPlanes(10000000) == 64, "10M -> capped 16-bit bands")
    assert(autoPlanes(1L << 40) == 64, "bits per band capped at 16")
    // bucket density holds: n / 2^(planes/bands) <= target (above floor,
    // below the 64-bit signature saturation point of ~4.2M at 4 bands)
    Seq(10000L, 100000L, 1000000L).foreach { n =>
      val bits = autoPlanes(n) / 4
      assert(n.toDouble / math.pow(2, bits) <= 64.0, s"n=$n bits=$bits")
    }
  }

  test("autoBandBits lifts packed saturation and smooths the ceil step") {
    import graft.sim.Similarity.autoBandBits
    // at power-of-two occupancy the widths match the packed rule exactly
    assert(autoBandBits(64L * 1024, 4) == Seq(10, 10, 10, 10))
    // fractional sizes split the extra bit across bands instead of the
    // packed rule's 2x occupancy jump at every ceil boundary
    assert(autoBandBits(96 * 1024L, 4).sorted == Seq(10, 10, 11, 11))
    // past the packed saturation point (~4.2M rows at 4 bands = 16 bits/
    // band) per-band keys keep growing — the q63 second-decade fix
    assert(autoBandBits(1L << 40, 4).forall(_ > 16))
    assert(autoBandBits(Long.MaxValue, 4).forall(b => b >= 56 && b <= 64))
    // the smoothed candidate-volume law: aggregate bucket density
    // Σ 2^-bits_b stays within a narrow constant of bands×target/n
    // (no sawtooth), for corpora above the 4-bit floor
    Seq(100000L, 1000000L, 10000000L, 100000000L).foreach { n =>
      val density = autoBandBits(n, 4).map(b => math.pow(2.0, -b)).sum
      val ideal = 4.0 * 64.0 / n
      assert(density / ideal > 0.7 && density / ideal < 1.5,
        s"n=$n density=$density ideal=$ideal")
    }
  }

  test("dedup plans keep their scale shape: SHJ index join, no cartesian") {
    // The physical properties the 100 TB design depends on, pinned so a
    // refactor can't silently regress them: the inverted-index self-join
    // must be a shuffled hash join (never a broadcast of the exploded
    // index, never a cartesian/BNL). On the UNPINNED full-index route
    // the identical join sides additionally share one exchange
    // (ReusedExchange under AQE) — a pinned input defeats that (AQE
    // creates a TableCacheQueryStage PER OCCURRENCE, so exchanges above
    // different occurrences never canonicalize equal; probed r15 —
    // minhashPairs has the same shape).
    val jac = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
      n = 3, minJaccard = 0.2, maxShingleDf = Int.MaxValue)
    jac.collect()
    assert(PlanNodes.has(jac, "ShuffledHashJoin"),
      s"want SHJ in: ${PlanNodes.of(jac).map(_.nodeName)}")
    assert(!PlanNodes.has(jac, "CartesianProduct") &&
      !PlanNodes.has(jac, "BroadcastNestedLoopJoin"), "no quadratic join")
    assert(PlanNodes.has(jac, "ReusedExchange"),
      "full-route self-join sides must share one materialized exchange")

    val mh = Dedup.minhashPairs(corpus, "text", "doc_id", 3, 8, 0.2)
    mh.collect()
    assert(PlanNodes.has(mh, "ShuffledHashJoin"),
      s"want SHJ in: ${PlanNodes.of(mh).map(_.nodeName)}")
    assert(!PlanNodes.has(mh, "CartesianProduct") &&
      !PlanNodes.has(mh, "BroadcastNestedLoopJoin"), "no quadratic join")
  }

  test("sequence packing assigns contiguous offsets and flags pack crossings") {
    import graft.text.Corpus
    val docs = Seq(
      (1L, "a", ("w " * 300).trim),  // 300 tokens: pack 0, off 0
      (2L, "a", ("w " * 300).trim),  // starts 300: crosses 512 boundary
      (3L, "a", ("w " * 100).trim),  // starts 600: pack 1, off 88
      (4L, "b", ("w " * 10).trim)    // own stream: pack 0, off 0
    ).toDF("doc_id", "lang", "text")
    val got = Corpus.packOffsets(docs, "text", "doc_id", "lang", budget = 512)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6)))
    assert(got(0) == ((1L, 0L, 0L, 0L, false)))
    assert(got(1) == ((2L, 300L, 0L, 300L, true)), s"got ${got(1)}")
    assert(got(2) == ((3L, 600L, 1L, 88L, false)))
    assert(got(3) == ((4L, 0L, 0L, 0L, false)))
  }

  test("repetition stats flag degenerate text and pass normal prose") {
    import graft.text.Corpus
    val docs = Seq(
      (1L, "spam spam spam spam ham"),              // top ratio 0.8
      (2L, "all tokens here are completely unique") // top ratio 1/6
    ).toDF("doc_id", "text")
    val got = Corpus.repetitionStats(docs, "text", "doc_id", 0.5)
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Boolean]("repetitive"))
    assert(got(0).getAs[Double]("top_tok_ratio") == 0.8)
    assert(!got(1).getAs[Boolean]("repetitive"))
    assert(got(1).getAs[Double]("distinct_ratio") == 1.0)
  }

  test("gopher rules: each rule kills exactly its planted violator") {
    import graft.text.Corpus
    val good = (("the of is " * 3) + ("tok%d " * 20).split(" ")
      .zipWithIndex.map { case (w, i) => w.format(i) }.mkString(" ")).trim
    val docs = Seq(
      (1L, good),                                  // passes all rules
      (2L, "the of is"),                           // too short
      (3L, ("uniq%d " * 40).split(" ").zipWithIndex // no stopwords
        .map { case (w, i) => w.format(i) }.mkString(" ").trim),
      (4L, "the of is " + ("spam " * 30).trim)     // repetitive
    ).toDF("doc_id", "text")
    val got = Corpus.gopherRules(docs, "text", "doc_id",
        minWords = 10, maxWords = 90, minStopwordHits = 2,
        maxTopTokenRatio = 0.2)
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Boolean]("pass"), s"doc 1 should pass: ${got(0)}")
    assert(!got(1).getAs[Boolean]("r_words") && !got(1).getAs[Boolean]("pass"))
    assert(!got(2).getAs[Boolean]("r_stopwords") && !got(2).getAs[Boolean]("pass"))
    assert(!got(3).getAs[Boolean]("r_repetition") && !got(3).getAs[Boolean]("pass"))
  }

  test("token budget keeps a prefix per stream and stops at the cap") {
    import graft.text.Corpus
    val docs = Seq(
      (1L, "a", ("w " * 300).trim), // cum 300: kept
      (2L, "a", ("w " * 300).trim), // cum 600: kept
      (3L, "a", ("w " * 300).trim), // cum 900: over budget
      (4L, "b", ("w " * 50).trim)   // own stream, cum 50: kept
    ).toDF("doc_id", "stream", "text")
    val got = Corpus.tokenBudget(docs, "text", "doc_id", "stream", 700L)
      .select("doc_id", "cum_tokens").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 300L), (2L, 600L), (4L, 50L)))
  }

  test("gopher repetition judges the unrounded ratio; null text reads as empty") {
    import graft.text.Corpus
    // boundary doc: top ratio 1/3 = 0.33333… > cap 0.3333, but ROUNDS to
    // exactly the cap — judging the rounded display column would pass it
    // while repetitionStats flags it repetitive for the same threshold
    val docs = Seq(
      (1L, "aaaa bbbb cccc dddd eeee ffff"), // ratio 1/6, passes
      (2L, "aaaa bbbb cccc aaaa eeee ffff " * 1 + "gggg hhhh iiii"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val rules = Corpus.gopherRules(docs, "text", "doc_id",
        minWords = 2, maxWords = 90, minAvgWordLen = 1.0,
        maxAvgWordLen = 10.0, minStopwordHits = 0,
        maxTopTokenRatio = 0.3333)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 2: 9 tokens, top token 'aaaa' ×2 → ratio 2/9 = 0.2222 ≤ cap ok;
    // use a dedicated boundary doc instead: 3 tokens, top ×1 → 1/3
    val boundary = Seq((9L, "aaaa bbbb cccc")).toDF("doc_id", "text")
    val b = Corpus.gopherRules(boundary, "text", "doc_id",
        minWords = 1, maxWords = 90, minAvgWordLen = 1.0,
        maxAvgWordLen = 10.0, minStopwordHits = 0,
        maxTopTokenRatio = 0.3333)
      .head()
    assert(!b.getBoolean(b.fieldIndex("r_repetition")),
      "1/3 > 0.3333 must FAIL the cap even though round(1/3, 4) == 0.3333")
    // null text behaves exactly like an empty document: scalar rules
    // evaluate (and fail) as booleans, never null; the failure is
    // attributed to the word-count rule, not misattributed to repetition
    val nullRow = rules(3L)
    assert(!nullRow.getBoolean(nullRow.fieldIndex("r_words")),
      "null text = 0 words -> r_words false, not null")
    assert(!nullRow.getBoolean(nullRow.fieldIndex("pass")))
    // packOffsets: a null-text row occupies a zero-width range in a REAL
    // pack (an earlier version emitted null offsets — a row in no pack)
    val offs2 = Corpus.packOffsets(
      docs.withColumn("stream", lit("s")), "text", "doc_id", "stream", 100)
      .filter(col("doc_id") === 3L).head()
    assert(!offs2.isNullAt(offs2.fieldIndex("pack_id")),
      "null text must land in a real pack with 0 tokens")
    assert(offs2.getLong(offs2.fieldIndex("n_tokens")) == 0L)
  }

  test("tokenBudget returns narrow metadata rows — text never rides its window") {
    import graft.text.Corpus
    val docs = Seq((1L, "s", "w w w"), (2L, "s", "w w"))
      .toDF("doc_id", "stream", "text")
    val out = Corpus.tokenBudget(docs, "text", "doc_id", "stream", 100L)
    // the packOffsets metadata shape: the cumsum sort exchange must carry
    // per-doc scalars, never the document payload
    assert(out.columns.toSeq == Seq("doc_id", "stream", "n_tokens", "cum_tokens"),
      out.columns.toSeq.toString)
    assert(out.count() == 2)
  }

  test("unigram log-prob scores common-token docs above rare-token docs") {
    import graft.text.Corpus
    // corpus: 'common' appears 6x of 8 tokens, each rare word once
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 rare2")
    ).toDF("doc_id", "text")
    val got = Corpus.unigramLogProb(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val p1 = got(0).getAs[Double]("avg_logp") // ln(6/8)
    val p2 = got(1).getAs[Double]("avg_logp") // mean(ln(6/8),ln(6/8),ln(1/8),ln(1/8))
    assert(math.abs(p1 - math.log(6.0 / 8)) < 1e-3, s"got $p1")
    assert(p1 > p2, "all-common doc must outscore the rare-token doc")
    assert(got(0).getAs[Long]("n_tokens") == 4L)
  }

  test("tfidf ranks a document's distinctive term above ubiquitous ones") {
    import graft.text.Corpus
    val docs = Seq(
      (1L, "shared shared unique1"),
      (2L, "shared shared unique2"),
      (3L, "shared shared unique3")
    ).toDF("doc_id", "text")
    // 'shared' has df=3 -> idf=ln(1)=0; each unique term df=1 -> idf=ln(3)
    val got = Corpus.tfidfTopTerms(docs, "text", "doc_id", k = 1)
      .orderBy("doc_id").collect()
    assert(got.map(_.getAs[String]("term")).toSeq ==
      Seq("unique1", "unique2", "unique3"))
    assert(math.abs(got(0).getAs[Double]("score") - math.log(3.0)) < 1e-3)
  }

  test("line-level dedup: boilerplate lines removed everywhere, " +
       "threshold boundary, exemptions, totality") {
    import graft.text.Corpus
    val docs = Seq(
      (0L, "SHARED HEADER\nalpha unique\n\nSHARED FOOTER"),
      (1L, "SHARED HEADER\nbeta unique\nrare pair\nSHARED FOOTER"),
      (2L, "SHARED HEADER\nrare pair\ngamma unique"),
      (3L, "SHARED HEADER\nSHARED FOOTER"), // all-boilerplate doc
      (4L, "solo doc, nothing shared\n"),   // trailing empty line
      (5L, null.asInstanceOf[String]))      // null text
      .toDF("doc_id", "text")
    val got = Corpus.dedupLines(docs, "text", "doc_id", minDf = 3)
      .orderBy("doc_id")
      .as[(Long, String, Int)].collect()
    val byId = got.map(r => r._1 -> ((r._2, r._3))).toMap
    // header df=4 >= 3 -> removed everywhere; footer df=3 -> removed;
    // "rare pair" df=2 < 3 -> KEPT; blank line exempt -> kept
    assert(byId(0L) == (("alpha unique\n", 2)), s"doc0: ${byId(0L)}")
    assert(byId(1L) == (("beta unique\nrare pair", 2)))
    assert(byId(2L) == (("rare pair\ngamma unique", 1)))
    assert(byId(3L) == (("", 2)), "all-boilerplate doc returns empty, not dropped")
    assert(byId(4L) == (("solo doc, nothing shared\n", 0)),
      "trailing empty line survives (split keeps trailing empties)")
    assert(byId(5L) == (("", 0)), "null text reads as empty")
    assert(got.length == 6, "every input doc comes back")
    // countDistinct semantics: a line repeated WITHIN one doc does not
    // reach the df threshold
    val within = Seq((0L, "same\nsame\nsame"), (1L, "other"))
      .toDF("doc_id", "text")
    val w = Corpus.dedupLines(within, "text", "doc_id", minDf = 2)
      .orderBy("doc_id").as[(Long, String, Int)].collect()
    assert(w(0)._2 == "same\nsame\nsame" && w(0)._3 == 0,
      "within-doc repetition is repetitionStats' business, not dedup's")
    // paragraph granularity (CCNet): sep = "\n\n" treats multi-line
    // paragraphs as the dedup unit — inner newlines survive intact
    val paras = Seq(
      (0L, "shared para\nline two\n\nunique a"),
      (1L, "shared para\nline two\n\nunique b"))
      .toDF("doc_id", "text")
    val p = Corpus.dedupLines(paras, "text", "doc_id", minDf = 2,
        sep = "\n\n")
      .orderBy("doc_id").as[(Long, String, Int)].collect()
    assert(p(0) == ((0L, "unique a", 1)) && p(1) == ((1L, "unique b", 1)),
      s"paragraph mode: ${p.toSeq}")
  }

  test("mix sampling keeps exactly the sub-threshold id residues") {
    import graft.text.Corpus
    val docs = (0L until 200L).map(i => (i, if (i % 2 == 0) "x" else "y"))
      .toDF("doc_id", "source")
    val pct = when(col("source") === "x", 30).otherwise(10)
    val kept = Corpus.mixSample(docs, "doc_id", pct)
      .collect().map(_.getLong(0)).toSet
    val expect = (0L until 200L).filter(i =>
      i % 100 < (if (i % 2 == 0) 30 else 10)).toSet
    assert(kept == expect)
  }

  test("simhash: identical docs have hamming 0 and band join finds them") {
    val pairs = Dedup.simhashPairs(corpus, "text", "doc_id",
      maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = pairs.filter(p => p._3 == 0).map(p => (p._1, p._2)).toSet
    assert(exact.contains((0L, 100L)) && exact.contains((1L, 101L)))
  }

  test("minhash index: on-disk near-dup probe == exact cross truth, " +
       "both budget routes; planted re-crawls drop, fresh docs survive") {
    val dir = java.nio.file.Files.createTempDirectory("mh_idx").toString
    val snap = corpus.filter(col("doc_id") < 100) // originals 0..39
    // the re-crawl: the planted copies (100=copy of 0, 101=copy of 1,
    // 102=near-copy of 2) + fresh docs from a DISJOINT vocabulary (no
    // chance trigram overlap) + a null-text and an empty-text row
    val fresh = Seq(
      (200L, "red orange yellow green blue indigo violet red orange yellow"),
      (201L, "one two three four five six seven eight nine ten eleven"),
      (202L, null.asInstanceOf[String]), (203L, "")).toDF("doc_id", "text")
    val batch = corpus.filter(col("doc_id") >= 100).unionByName(fresh)
    Dedup.writeMinhashIndex(snap, "text", "doc_id", dir)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      math.round(r.getDouble(2) * 1e6))
    val pairs = Dedup.nearDupPairsAgainstCorpus(batch, dir, "text",
      "doc_id", minJaccard = 0.5)
    // exact truth: full-index jaccard over the union, cross pairs only
    // (snapshot ids < 100 <= batch ids, so id_a is always the snapshot)
    val truth = Dedup.ngramJaccardPairs(snap.unionByName(batch), "text",
        "doc_id", n = 3, minJaccard = 0.5, maxShingleDf = Int.MaxValue)
      .filter(col("id_a") < 100 && col("id_b") >= 100)
      .select(col("id_b"), col("id_a"), col("jaccard"))
      .collect().map(key).toSet
    assert(pairs.collect().map(key).toSet == truth,
      "probe hits must equal the exact cross-pair truth")
    assert(truth.map(_._1) == Set(100L, 101L, 102L),
      s"fixture: exactly the planted re-crawls qualify, got $truth")
    def surv(maxB: Long) =
      Dedup.dedupNearAgainstCorpus(batch, dir, "text", "doc_id",
        minJaccard = 0.5, maxBroadcastRows = maxB)
        .select("doc_id").as[Long].collect().toSet
    val want = Set(200L, 201L, 202L, 203L)
    assert(surv(4L << 20) == want, "broadcast route survivors")
    assert(surv(0L) == want, "shuffle-fallback route survivors must match")
    // happy-route plan shape: the snapshot sides (bands + sets scans)
    // feed BROADCAST joins — the snapshot is scanned, never shuffled
    val shaped = Dedup.nearDupPairsAgainstCorpus(batch, dir, "text",
      "doc_id", minJaccard = 0.5)
    shaped.collect()
    assert(PlanNodes.has(shaped, "BroadcastExchange"),
      s"want broadcast candidate/sets joins in: ${PlanNodes.of(shaped).map(_.nodeName)}")
  }

  test("shingle document-frequency cap drops viral shingles") {
    val viral = (0L until 10L).map(i => (i, "same same same unique" + i))
      .toDF("doc_id", "text")
    // "same same same" appears in all 10 docs; cap at 5 removes it, so no
    // pair shares a shingle.
    val pairs = Dedup.ngramJaccardPairs(viral, "text", "doc_id",
      n = 3, minJaccard = 0.01, maxShingleDf = 5)
    assert(pairs.count() == 0)
  }

  test("brute-force topK matches a hand-computed cosine ordering") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)),
      (2L, Seq(0.0, 1.0)), (3L, Seq(-1.0, 0.0))).toDF("vec_id", "embedding")
    val top = Similarity.topKForVector(vecs, "embedding", "vec_id",
      Seq(1.0, 0.0), 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(top.head.getDouble(1) == 1.0)
  }

  test("SRP cosine pairs find planted near-identical vectors") {
    val rng = new Random(9)
    val base = Array.fill(64)(rng.nextGaussian())
    val near = base.clone(); near(0) += 0.01
    val noise = (2L until 60L).map(i => (i, Array.fill(64)(rng.nextGaussian()).toSeq))
    val df = (Seq((0L, base.toSeq), (1L, near.toSeq)) ++ noise)
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairs(df, "embedding", "vec_id",
      minCosine = 0.95, planes = 16, seed = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)), s"planted pair missing: ${pairs.toSeq}")
    assert(pairs.length < 5, "random 64-dim vectors should not be near-dups")
  }

  test("semantic dedup removes planted copies and keeps every original") {
    // 30 pseudo-random vectors + verbatim copies of the first 5: copies
    // land in their original's cell whatever the quantizer seed, score
    // cos=1.0, and lose the min-id survivor rule.
    val rnd = new scala.util.Random(7)
    val base = (0L until 30L).map(i =>
      (i, Seq.fill(32)(rnd.nextGaussian().toFloat)))
    val planted = base ++ base.take(5).map { case (i, v) => (i + 1000L, v) }
    val df = planted.toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(df, "embedding", "vec_id",
        nClusters = 4, minCosine = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 30L).toSet, s"got $kept")
  }

  test("IVF topK recalls most brute-force neighbors on clustered vectors") {
    val rng = new Random(13)
    val centers = Seq.fill(4)(Array.fill(16)(rng.nextGaussian() * 3))
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(_ + rng.nextGaussian() * 0.2).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 12)
    val exact = Similarity.bruteForceTopK(vecs, queries, "embedding", "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(vecs, queries, "embedding", "vec_id", 5,
      nClusters = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall vs brute force")
    assert(ivf.size == 12 * 5, "k results per query")
  }

  test("n-gram shingles are empty (not crashing/duplicated) on short text") {
    import graft.text.TextFunctions
    val df = Seq((1L, ""), (2L, "one"), (3L, "one two"), (4L, "a b c d"))
      .toDF("doc_id", "text")
    val grams = df.select(col("doc_id"),
      TextFunctions.wordNGrams(col("text"), 3).as("w"),
      TextFunctions.charNGrams(col("text"), 3).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getSeq[String](2))).toMap
    assert(grams(1L)._1.isEmpty && grams(1L)._2.isEmpty)
    assert(grams(2L)._1.isEmpty, "1 token < n=3 -> no word grams")
    assert(grams(2L)._2 == Seq("one"), "3 chars -> exactly one char gram")
    assert(grams(3L)._1.isEmpty && grams(4L)._1 == Seq("a b c", "b c d"))
    // the whole dedup pipeline must survive a corpus with short docs
    assert(Dedup.ngramJaccardPairs(df, "text", "doc_id", 3, 0.1).count() == 0)
    assert(Dedup.minhashPairs(df, "text", "doc_id", 3, 8, 0.1).count() == 0)
  }

  test("PII redaction replaces emails and IPv4s, counts match") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jane.doe+x@corp.example.org or 192.168.1.254 thanks"),
      (2L, "no pii here, just words and numbers like 12345"),
      (3L, "two mails a@b.io c@d.co and ip 10.0.0.1")).toDF("id", "text")
    val rows = df.select(col("id"),
        graft.text.TextFunctions.piiCount(col("text")).as("n"),
        graft.text.TextFunctions.redactPii(col("text")).as("r"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(_._1)
    assert(rows(0)._2 == 2 && rows(0)._3 ==
      "reach me at <EMAIL> or <IP> thanks")
    assert(rows(1)._2 == 0 &&
      rows(1)._3 == "no pii here, just words and numbers like 12345")
    assert(rows(2)._2 == 3 && rows(2)._3 == "two mails <EMAIL> <EMAIL> and ip <IP>")
  }

  test("langId spots language by stopword profile") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is the best of all"),
      (2L, "der hund ist nicht in der stadt und das ist gut"),
      (3L, "xyzzy qwerty plugh")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextFunctions.langId(col("text")))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "und")
  }

  test("quality score favors normal prose over degenerate text") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the hills for a while longer today"),
      (2L, "a a a"),
      (3L, "!!!! #### $$$$ %%%% ^^^^ &&&& **** (((( )))) @@@@ !!!! #### $$$$ %%%% ^^^^ &&&& **** (((( )))) @@@@")).toDF("doc_id", "text")
    val q = df.select(col("doc_id"), TextFunctions.qualityScore(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(q(1L) > q(2L), s"prose ${q(1L)} should beat degenerate ${q(2L)}")
    assert(q(1L) > q(3L), s"prose ${q(1L)} should beat punct-spam ${q(3L)}")
  }

  test("langId detects unsegmented CJK at the character level") {
    val df = Seq(
      (1L, "我是一个人你好吗这是中文句子"),
      // incidental Latin stopwords must not flip majority-CJK text to en
      (2L, "这是中文的句子 the 我们都在这里"),
      (3L, "the cat is on the mat and it is fine")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextFunctions.langId(col("text")))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "zh" && got(2L) == "zh" && got(3L) == "en", got.toString)
  }

  test("packing and budget cumsum on ROWS: duplicate ids never overlap") {
    import graft.text.Corpus
    val docs = Seq((1L, "a", "w w w"), (1L, "a", "w w w"), (2L, "a", "w w"))
      .toDF("doc_id", "stream", "text")
    // RANGE (the window default) treats the tied ids as peers: both rows
    // would cumsum to 6 and claim start 3 — overlapping token ranges
    val offs = Corpus.packOffsets(docs, "text", "doc_id", "stream", budget = 100)
      .select("start_off").as[Long].collect().sorted.toSeq
    assert(offs == Seq(0L, 3L, 6L), s"got $offs")
    val kept = Corpus.tokenBudget(docs, "text", "doc_id", "stream", budget = 4)
    assert(kept.count() == 1, "exactly one tied doc fits the 4-token budget")
  }

  test("token chunking: windows, overlap, final partial, empty docs") {
    import graft.text.Corpus
    val docs = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")), // 20 tokens
      (2L, "a b c"),                                  // shorter than window
      (3L, "   "),                                    // whitespace-only
      (4L, "")                                        // empty
    ).toDF("doc_id", "text")
    val got = Corpus.chunkTokens(docs, "text", "doc_id", window = 8, overlap = 4)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    // doc 1: starts 0,4,8,12 -> windows of 8,8,8,8 (12..19 fits exactly)
    val d1 = got.filter(_._1 == 1L)
    assert(d1.length == 4, s"got ${d1.toSeq}")
    assert(d1(0)._3.startsWith("t1 t2") && d1(0)._4 == 8)
    assert(d1(1)._3.startsWith("t5 t6"), "stride 4 = 8 - overlap 4")
    assert(d1(3)._4 == 8 && d1(3)._3.endsWith("t20"))
    // doc 2: one partial chunk of its 3 tokens
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b c", 3)))
    // empty/whitespace docs emit nothing
    assert(!got.exists(r => r._1 == 3L || r._1 == 4L))
  }

  test("token chunking properties: coverage and overlap across shapes") {
    import graft.text.Corpus
    val rng = new Random(17)
    // random doc lengths x random (window, overlap) shapes
    val docs = (1L to 30L).map(id => (id,
      (1 to (1 + rng.nextInt(60))).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    for ((w, o) <- Seq((8, 0), (8, 4), (5, 4), (16, 1))) {
      val stride = w - o
      val chunks = Corpus.chunkTokens(docs, "text", "doc_id", w, o)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
        .groupBy(_._1)
      docs.collect().foreach { row =>
        val id = row.getLong(0)
        val n = row.getString(1).split(" ").length
        val cs = chunks(id).sortBy(_._2)
        // every token covered: chunk i starts at i*stride; the last
        // chunk must reach token n
        assert(cs.head._2 == 0 && cs.map(_._2).toSeq == cs.indices.toSeq)
        val lastStart = (cs.length - 1) * stride
        assert(lastStart + cs.last._4 == n,
          s"(w=$w o=$o id=$id): last chunk must end at $n")
        // every non-final chunk is full width; starts advance by stride
        assert(cs.dropRight(1).forall(_._4 == w))
        // token-level reassembly: concatenating chunks at stride
        // boundaries reproduces the document exactly
        val rebuilt = cs.map(_._3.split(" ")).zipWithIndex.flatMap {
          case (toks, 0) => toks
          case (toks, _) => toks.drop(o)
        }
        assert(rebuilt.toSeq == row.getString(1).split(" ").toSeq,
          s"(w=$w o=$o id=$id): chunks must tile the document")
      }
    }
  }

  test("on-disk IVF index: cell-partitioned layout, pruned probes, recall") {
    // clustered vectors so cells are meaningful and recall is testable
    val rng = new Random(21)
    val centers = Array.tabulate(4)(c => Array.tabulate(8)(d =>
      if (d == c * 2) 3.0 else 0.0))
    val vecs = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      (i, centers(c).map(_ + rng.nextGaussian() * 0.2).toSeq)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    try {
    Similarity.writeIvfIndex(vecs, "embedding", "vec_id", dir,
      nClusters = 4, seed = 11)
    // layout: hive directories per cell
    val cellDirs = cells(dir).inputFiles
      .map(new org.apache.hadoop.fs.Path(_).getParent.getName)
      .filter(_.startsWith("_cell=")).distinct
    assert(cellDirs.length == 4, cellDirs.toSeq.toString)

    val q = vecs.filter(col("vec_id") === 7L)
      .head().getSeq[Double](1)
    val probed = Similarity.probeIvfIndex(spark, dir, q, k = 5, nProbe = 1)
    // the probe plan PRUNES: only the query's cell partition is read
    val cellFilters = PlanNodes.fileScans(probed).flatMap(_.partitionFilters)
      .filter(_.references.exists(_.name == "_cell"))
    assert(cellFilters.nonEmpty, s"probe must prune cell partitions: " +
      PlanNodes.fileScans(probed).map(_.metadata("PartitionFilters")))
    // read-bytes proportionality — the pruning claim as an OBSERVABLE:
    // the post-execution scan metrics must show ~nProbe/nClusters of the
    // index read, and exactly nProbe files (one file per cell since
    // writeIvfIndex repartitions on the partition column)
    def probeBytes(nProbe: Int): (Long, Long) = {
      val p = Similarity.probeIvfIndex(spark, dir, q, k = 5, nProbe = nProbe)
      p.collect() // collect, not count: count plans its own execution
      graft.obs.StageMetrics.scanReadMetrics(p)
    }
    val (f1, b1) = probeBytes(1)
    val (f4, b4) = probeBytes(4)
    assert(f1 == 1 && f4 == 4, s"files read: $f1 @1, $f4 @4 (want 1 per cell)")
    assert(b1 > 0 && b1 < b4, s"bytes must grow with nProbe: $b1 vs $b4")
    assert(b1.toDouble / b4 < 0.5,
      s"1-probe read $b1 of $b4 bytes — pruning is not proportional")
    // recall vs exact: on well-separated clusters, 1-probe top-5 equals
    // the brute-force top-5 (all true neighbors share the query's cell)
    val got = probed.collect().map(_.getLong(0)).toSet
    val want = Similarity.topKForVector(vecs, "embedding", "vec_id", q, k = 6)
      .filter(col("vec_id") =!= 7L).limit(5)
      .collect().map(_.getLong(0)).toSet
    // probe includes the query itself (id 7) — compare minus it
    assert((got - 7L).subsetOf(want + 7L) && (want -- got).size <= 1,
      s"probe $got vs exact $want")
    } finally { // the written index is real parquet — don't leak it
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("batch on-disk probe matches per-query probes and prunes cell files") {
    val rng = new Random(27)
    val centers = Array.tabulate(4)(c => Array.tabulate(8)(d =>
      if (d == c * 2) 3.0 else 0.0))
    val vecs = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      (i, centers(c).map(_ + rng.nextGaussian() * 0.2).toSeq)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_batch").toString
    try {
      Similarity.writeIvfIndex(vecs, "embedding", "vec_id", dir,
        nClusters = 4, seed = 11)
      // query ids OUTSIDE the corpus id space so the batch path's
      // equal-id exclusion (the ivfTopK contract) is a no-op and the
      // single-query path (which has no id concept) is comparable
      val queries = vecs.filter(col("vec_id") % 10 === 3)
        .withColumn("vec_id", col("vec_id") + 1000)
      val batch = Similarity.probeIvfIndexBatch(queries, "embedding",
        "vec_id", dir, k = 5, nProbe = 1)
      val byQuery = batch.collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.sortBy(_.getInt(3)).map(r =>
            (r.getLong(1), r.getDouble(2))).toSeq
        }
      queries.collect().foreach { qr =>
        val qid = qr.getLong(0)
        val want = Similarity.probeIvfIndex(spark, dir,
            qr.getSeq[Double](1), k = 5, nProbe = 1)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(byQuery(qid) == want, s"query $qid: batch vs single probe")
      }
      // scale shape: the probe-list stage is a per-row NearestCells map —
      // the executed plan must contain NO crossJoin/cartesian anywhere
      // (the old plan crossJoined queries × centroids before a window)
      assert(!PlanNodes.of(batch).exists(_.nodeName.toLowerCase.contains("cartesian")),
        s"batch probe must not cartesian-join centroids: " +
          PlanNodes.of(batch).map(_.nodeName))
      // pruning: a 1-query batch with nProbe=1 must read ~1 cell's files,
      // not the whole index. This comes from the STATIC probed-cell-union
      // isin filter the implementation pushes — NOT from dynamic
      // partition pruning, which was measured to silently read every cell
      // at this scale (its broadcast-reuse heuristics are not a serving
      // guarantee); do not "simplify" the static filter away
      val one = Similarity.probeIvfIndexBatch(queries.limit(1), "embedding",
        "vec_id", dir, k = 5, nProbe = 1)
      one.collect()
      val (files1, _) = graft.obs.StageMetrics.scanReadMetrics(one)
      val all = Similarity.probeIvfIndexBatch(queries, "embedding",
        "vec_id", dir, k = 5, nProbe = 4)
      all.collect()
      val (files4, _) = graft.obs.StageMetrics.scanReadMetrics(all)
      assert(files1 < files4,
        s"1-query/1-probe batch read $files1 files vs $files4 at full probe" +
          " — cell files are not being pruned")
      // NaN queries have empty probe lists; silent absence from the
      // result would hide data corruption — the batch path fails loudly
      val nanQ = Seq((9999L, Seq(Double.NaN) ++ Seq.fill(7)(0.0)))
        .toDF("vec_id", "embedding")
      val ex = intercept[IllegalArgumentException] {
        Similarity.probeIvfIndexBatch(nanQ, "embedding", "vec_id", dir, k = 1)
      }
      assert(ex.getMessage.contains("NaN"), ex.getMessage)
      // and so does the single-query probe (every cosine would be NaN)
      val exOne = intercept[IllegalArgumentException] {
        Similarity.probeIvfIndex(spark, dir, Seq(Double.NaN) ++ Seq.fill(7)(0.0), k = 1)
      }
      assert(exOne.getMessage.contains("NaN"), exOne.getMessage)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("IVF default probe holds a constant per-query candidate budget") {
    // unit law first: auto-probe examines ~AutoProbeBudget (4096)
    // corpus rows per query — exhaustive for corpora at or under the
    // budget, then a SHRINKING cell fraction as the corpus grows, so a
    // query panel that scales with the corpus pays a LINEAR total
    // rerank. (The prior cells/16 fraction made per-query candidates
    // n/16 — Decade3Probe measured the resulting quadratic at 2M×40k:
    // q62 e(10→100) = 1.87.)
    assert(Similarity.autoNProbe(16, 64) == 16) // tiny corpus: exhaustive
    assert(Similarity.autoNProbe(45, 2000) == 45) // <= budget: exhaustive
    assert(Similarity.autoNProbe(64, 20000) == 14) // ceil(4096/312.5)
    assert(Similarity.autoNProbe(448, 200000) == 10) // ceil(4096/446.4)
    assert(Similarity.autoNProbe(1415, 2000000) == 3) // floor engages
    assert(Similarity.autoNProbe(4096, 100000000) == 3)
    // budget law under the AUTO cell sizing (autoCells): probed
    // candidates stay ~budget from 1e4 to 3e10 rows — the sqrt regime
    // below ~1.86M rows, then budget-driven cells (r15: sqrt sizing
    // alone left auto candidates growing as 3·sqrt(n) past the floor;
    // Ivf2LScaleProbe measured 13.5k/query at 20M vectors)
    Seq(10000L, 100000L, 1000000L, 20000000L, 1000000000L,
        30000000000L).foreach { n =>
      val cells = Similarity.autoCells(n)
      val cand = Similarity.autoNProbe(cells, n).toLong * (n / cells)
      assert(cand >= 2048 && cand <= 8192,
        s"n=$n cells=$cells candidates=$cand drifted from the ~4096 budget")
    }
    // sizing regimes: sqrt below the crossover (gate SFs unchanged),
    // budget-driven above, clamped at the two-level ceiling
    assert(Similarity.autoCells(2000000L) ==
      math.ceil(3.0 * 2000000L / 4096).toInt) // budget regime
    assert(Similarity.autoCells(1000000L) == 1000) // sqrt regime
    assert(Similarity.autoCells(1L << 62) == 4096 * 4096) // ceiling
    // end-to-end: a 64-cell index over 512 rows is UNDER the budget —
    // auto probes every cell (exact top-k on small corpora); an explicit
    // nProbe=4 prunes to exactly 4 cell files (one file per cell by
    // layout) — the pruning observable, unchanged
    val rng = new Random(33)
    val vecs = (0L until 512L).map { i =>
      val c = (i % 64).toInt
      (i, Seq.tabulate(64)(d => (if (d == c) 5.0 else 0.0) +
        rng.nextGaussian() * 0.05))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_auto").toString
    try {
      Similarity.writeIvfIndex(vecs, "embedding", "vec_id", dir,
        nClusters = 64, seed = 7)
      val nCells = spark.read.json(IndexStore.sidecar(dir, "centroids"))
        .count().toInt
      assert(nCells == 64)
      val q = vecs.filter(col("vec_id") === 3L).head().getSeq[Double](1)
      val probed = Similarity.probeIvfIndex(spark, dir, q, k = 5)
      probed.collect()
      val (files, _) = graft.obs.StageMetrics.scanReadMetrics(probed)
      assert(files == 64,
        s"512-row index is under the probe budget — auto must read all " +
          s"64 cells (exhaustive), read $files")
      val pruned = Similarity.probeIvfIndex(spark, dir, q, k = 5, nProbe = 4)
      pruned.collect()
      val (files4, _) = graft.obs.StageMetrics.scanReadMetrics(pruned)
      assert(files4 == 4, s"explicit nProbe=4 must read 4 cells, read $files4")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("IVF index appends: assigned cells probe like a fresh index") {
    // well-separated clusters so assignment and probing are stable
    // under both the original and the re-fit quantizer
    val rng = new Random(44)
    def cluster(c: Int, ids: Range) = ids.map { i =>
      (i.toLong, Seq.tabulate(16)(d => (if (d == c * 4) 6.0 else 0.0) +
        rng.nextGaussian() * 0.1))
    }
    val base = (0 until 4).flatMap(c => cluster(c, (c * 100) until (c * 100 + 60)))
    val extra = (0 until 4).flatMap(c => cluster(c, (1000 + c * 100) until (1000 + c * 100 + 30)))
    val baseDf = base.toDF("vec_id", "embedding")
    val extraDf = extra.toDF("vec_id", "embedding")
    val dirA = java.nio.file.Files.createTempDirectory("ivf_app").toString
    val dirF = java.nio.file.Files.createTempDirectory("ivf_fresh").toString
    try {
      Similarity.writeIvfIndex(baseDf, "embedding", "vec_id", dirA,
        nClusters = 4, seed = 11)
      val stats = Similarity.appendToIvfIndex(extraDf, "embedding", "vec_id", dirA)
      assert(stats.appended == 120 && stats.total == 360)
      assert(stats.cells == 4 && !stats.rebuildRecommended,
        s"balanced append within ratio must not flag a rebuild: $stats")
      // probe-equality vs a FRESH index over the union: on separated
      // clusters both quantizers put a query's neighbors in its own
      // cell, so the top-k id sets agree
      Similarity.writeIvfIndex(baseDf.unionByName(extraDf), "embedding",
        "vec_id", dirF, nClusters = 4, seed = 11)
      for (qid <- Seq(5L, 1105L, 210L, 1310L)) {
        val q = (base ++ extra).find(_._1 == qid).get._2
        def ids(dir: String) = Similarity.probeIvfIndex(spark, dir, q, k = 5)
          .collect().map(_.getLong(0)).toSet
        assert(ids(dirA) == ids(dirF), s"query $qid: appended != fresh")
      }
      // appended rows land in APPEND files — the original cell files
      // are untouched (no rewrite of the existing index)
      val cellFiles = cells(dirA).inputFiles.length
      assert(cellFiles >= 8, s"want per-cell base+append files, got $cellFiles")
      // a skewed append (everything into one cell) trips the LOUD
      // rebuild recommendation via the occupancy ratio
      val skew = cluster(0, 5000 until 5600).toDF("vec_id", "embedding")
      val s2 = Similarity.appendToIvfIndex(skew, "embedding", "vec_id", dirA)
      assert(s2.rebuildRecommended && s2.maxCell > 2.0 * s2.meanCell,
        s"skewed append must recommend re-quantize: $s2")
      // dimension mismatch is loud, not silently truncated — BOTH
      // directions (a short row would otherwise null-pad into cell 0)
      intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(
          Seq((9L, Seq(1.0, 2.0))).toDF("vec_id", "embedding"),
          "embedding", "vec_id", dirA)
      }
      intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(
          Seq((9L, Seq.fill(16)(1.0)), (10L, Seq(1.0, 2.0)))
            .toDF("vec_id", "embedding"),
          "embedding", "vec_id", dirA)
      }
      // duplicate ids in one batch each keep their own written row
      // (writeIvfIndex keeps duplicates; the append path must match —
      // the old window-argmin collapsed them to one)
      val before = cells(dirA).count()
      val dupRow = cluster(1, 7000 until 7001)
      val s3 = Similarity.appendToIvfIndex(
        (dupRow ++ dupRow).toDF("vec_id", "embedding"),
        "embedding", "vec_id", dirA)
      assert(s3.appended == 2 &&
        cells(dirA).count() == before + 2,
        s"duplicate-id rows must both be written: $s3")
      // COMPACTION: after three appends each cell dir holds several
      // files; compaction rewrites to one contiguous file per cell with
      // probe-visible content UNCHANGED and the quantizer untouched
      val preCompact = Seq(5L, 1105L, 210L, 1310L).map { qid =>
        val q = (base ++ extra).find(_._1 == qid).get._2
        Similarity.probeIvfIndex(spark, dirA, q, k = 5)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      val cstats = Similarity.compactIvfIndex(spark, dirA)
      assert(cstats.rows == before + 2, s"row count changed: $cstats")
      assert(cstats.filesBefore > cstats.filesAfter &&
        cstats.filesAfter <= 4, // one file per written cell
        s"compaction must shrink to ~one file per cell: $cstats")
      val postCompact = Seq(5L, 1105L, 210L, 1310L).map { qid =>
        val q = (base ++ extra).find(_._1 == qid).get._2
        Similarity.probeIvfIndex(spark, dirA, q, k = 5)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      assert(postCompact == preCompact,
        "probe results must be identical across compaction")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dirA)).deleteRecursively()
      new Directory(new java.io.File(dirF)).deleteRecursively()
    }
  }

  test("IVF compaction after appends: one file per cell, every row probe-visible") {
    // N small appends grow the files per cell; one compactIvfIndex call
    // rewrites them to one contiguous file per cell, probe-visible
    // content unchanged, quantizer untouched, and the crash discipline
    // is the store's own (pinned in IndexStoreSpec)
    val rng = new Random(45)
    def cluster(c: Int, ids: Range) = ids.map { i =>
      (i.toLong, Seq.tabulate(16)(d => (if (d == c * 4) 6.0 else 0.0) +
        rng.nextGaussian() * 0.1))
    }
    val base = (0 until 4).flatMap(c => cluster(c, (c * 100) until (c * 100 + 40)))
    val dir = java.nio.file.Files.createTempDirectory("ivf_autoc").toString
    try {
      Similarity.writeIvfIndex(base.toDF("vec_id", "embedding"),
        "embedding", "vec_id", dir, nClusters = 4, seed = 11)
      def files() = cells(dir).inputFiles.length
      var appended = Seq.empty[(Long, Seq[Double])]
      for (b <- 0 until 5) {
        val batch = (0 until 4).flatMap(c =>
          cluster(c, (1000 + b * 100 + c * 10) until (1000 + b * 100 + c * 10 + 5)))
        appended ++= batch
        Similarity.appendToIvfIndex(batch.toDF("vec_id", "embedding"),
          "embedding", "vec_id", dir)
      }
      val before = files()
      assert(before > 4, s"appends must add files per cell: $before")
      val st = Similarity.compactIvfIndex(spark, dir)
      assert(st.filesBefore == before && st.filesAfter == files(), st.toString)
      assert(files() <= 4, s"compacted tree must be ~one file per cell: ${files()}")
      // every appended row is probe-visible after the compaction
      val total = cells(dir).count()
      assert(total == base.size + appended.size,
        s"rows lost across compaction: $total")
      assert(st.rows == total, st.toString)
      val q = base.head._2
      val got = Similarity.probeIvfIndex(spark, dir, q, k = 3)
        .collect().map(_.getLong(0))
      assert(got.nonEmpty, "probe after compaction")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("recall curve: measured at build, monotone, drives nProbe(target)") {
    val rng = new Random(46)
    def cluster(c: Int, ids: Range) = ids.map { i =>
      (i.toLong, Seq.tabulate(16)(d => (if (d == c * 4) 6.0 else 0.0) +
        rng.nextGaussian() * 0.1))
    }
    val base = (0 until 4).flatMap(c => cluster(c, (c * 100) until (c * 100 + 50)))
    val dir = java.nio.file.Files.createTempDirectory("ivf_curve").toString
    try {
      Similarity.writeIvfIndex(base.toDF("vec_id", "embedding"),
        "embedding", "vec_id", dir, nClusters = 4, seed = 11,
        recallCurveSamples = 64)
      val curve = Similarity.recallCurve(spark, dir)
        .getOrElse(fail("no recall curve in the build sidecar"))
      assert(curve.length == 4, s"one point per cell: ${curve.toSeq}")
      assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
        s"curve must be monotone: ${curve.toSeq}")
      assert(curve.last == 1.0,
        s"full probe always contains the true neighbor: ${curve.toSeq}")
      // separated clusters: a sample's true neighbor sits in its own
      // cell, so measured recall@1 is (near) perfect — the curve
      // reflects the data's structure, not a fixed fraction
      assert(curve.head >= 0.9, s"clustered recall@1: ${curve.toSeq}")
      // nProbe(target) is the smallest probe meeting the target, so it
      // is monotone in the target and bounded by the cell count
      val p50 = Similarity.nProbeForRecall(spark, dir, 0.5)
      val p100 = Similarity.nProbeForRecall(spark, dir, 1.0)
      assert(p50 <= p100 && p100 <= 4, s"p50=$p50 p100=$p100")
      assert(p50 == 1, s"recall@1 >= 0.9 means target 0.5 needs 1 probe: $p50")
      // the target knob rides the real probe paths; explicit nProbe and
      // a target together are a caller error
      val q = base.head._2
      val got = Similarity.probeIvfIndex(spark, dir, q, k = 3,
        recallTarget = 0.9).collect()
      assert(got.nonEmpty)
      intercept[IllegalArgumentException] {
        Similarity.probeIvfIndex(spark, dir, q, k = 3, nProbe = 2,
          recallTarget = 0.9)
      }
      import spark.implicits._
      val batch = Similarity.probeIvfIndexBatch(
        Seq((5L, q)).toDF("vec_id", "embedding"), "embedding", "vec_id",
        dir, k = 3, recallTarget = 0.9).collect()
      assert(batch.nonEmpty)
      // curve-less index (samples = 0): loud autoNProbe fallback
      val dir0 = java.nio.file.Files.createTempDirectory("ivf_nocurve").toString
      try {
        Similarity.writeIvfIndex(base.toDF("vec_id", "embedding"),
          "embedding", "vec_id", dir0, nClusters = 4, seed = 11,
          recallCurveSamples = 0)
        assert(Similarity.recallCurve(spark, dir0).isEmpty)
        assert(Similarity.nProbeForRecall(spark, dir0, 0.9) ==
          Similarity.autoNProbe(4, base.length.toLong))
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dir0)).deleteRecursively()
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  /** `(query_id, neighbor_id, cos, rank)` rows in query/rank order. */
  private def topKRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

  test("ivfTopK equals writeIvfIndex + probeIvfIndexBatch row for row: " +
       "auto, explicit and recallTarget nProbe, flat and two-level") {
    val rng = new Random(47)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian()))
    val df = (0L until 400L).map { i =>
      (i, centers((i % 8).toInt).toSeq.map(_ + rng.nextGaussian() * 0.3))
    }.toDF("vec_id", "embedding")
    // corpus ids (the equal-id exclusion) and noisy copies under new ids
    val picked = df.filter(col("vec_id") % 25 === 3)
    val queries = picked.unionByName(picked
      .withColumn("vec_id", col("vec_id") + 5000)
      .withColumn("embedding", transform(col("embedding"), x => x + 0.05)))
    // 400 rows auto-size 20 flat cells; 4100 cells go two-level
    for ((nClusters, maxIter) <- Seq((0, 20), (4100, 3))) {
      val dir = java.nio.file.Files.createTempDirectory("ivf_parity").toString
      try {
        Similarity.writeIvfIndex(df, "embedding", "vec_id", dir,
          nClusters = nClusters, seed = 11, maxIter = maxIter,
          recallCurveSamples = 256)
        for ((nProbe, target) <- Seq((0, 0.0), (2, 0.0), (0, 0.9))) {
          val disk = topKRows(Similarity.probeIvfIndexBatch(queries,
            "embedding", "vec_id", dir, k = 3, nProbe = nProbe,
            recallTarget = target))
          val mem = topKRows(Similarity.ivfTopK(df, queries, "embedding",
            "vec_id", k = 3, nClusters = nClusters, nProbe = nProbe,
            seed = 11, maxIter = maxIter, recallTarget = target))
          assert(mem.nonEmpty && mem == disk,
            s"nClusters=$nClusters nProbe=$nProbe target=$target: " +
              s"${mem.diff(disk).take(3)} vs ${disk.diff(mem).take(3)}")
        }
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dir)).deleteRecursively()
      }
    }
    // target + explicit nProbe together is a caller error, as on-disk
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(df, queries, "embedding", "vec_id", k = 3,
        nProbe = 2, recallTarget = 0.9)
    }
  }

  test("ivfTopK rejects a wrong-dimension or NaN query before any result") {
    val rng = new Random(48)
    val df = (0L until 60L).map(i => (i, Seq.fill(8)(rng.nextGaussian())))
      .toDF("vec_id", "embedding")
    // one coordinate short: the cosine kernel would score a prefix
    val short = Seq((9000L, Seq.fill(7)(0.5))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(df, short, "embedding", "vec_id", k = 3)
    }
    assert(e.getMessage.contains("[7, 7]") &&
      e.getMessage.contains("dimension 8"), e.getMessage)
    val nan = Seq((9001L, Seq(Double.NaN) ++ Seq.fill(7)(0.5)))
      .toDF("vec_id", "embedding")
    val n = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(df, nan, "embedding", "vec_id", k = 3)
    }
    assert(n.getMessage.contains("NaN"), n.getMessage)
  }

  test("a repeated identical ivfTopK call keeps its result cached") {
    val rng = new Random(49)
    val df = (0L until 60L).map(i => (i, Seq.fill(8)(rng.nextGaussian())))
      .toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 5)
    def call() = Similarity.ivfTopK(df, queries, "embedding", "vec_id",
      k = 3, seed = 5)
    val firstDf = call()
    val first = topKRows(firstDf)
    val again = call()
    // storageLevel reads the session's cache manager (lookupCachedData)
    assert(again.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the second call's result was evicted by its own registration")
    assert(topKRows(again) == first)
    // identical calls plan identically (the codebook compares by content),
    // so the repeat hits the first call's cache entry instead of evicting
    // it for a copy of its own
    assert(again.queryExecution.analyzed.sameResult(firstDf.queryExecution.analyzed))
    assert(firstDf.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the repeat call evicted the first call's cached result")
  }

  test("ivfTopK sizes cells from non-null, non-empty vectors, as " +
       "writeIvfIndex; an empty corpus fails with its message") {
    val rng = new Random(50)
    val vecs = (0L until 300L).map(i => (i, Option(Seq.fill(8)(rng.nextGaussian()))))
    // 400 null or empty vectors: counted, they would size 27 cells, not 18
    val junk = (300L until 700L).map(i =>
      (i, if (i % 2 == 0) None else Some(Seq.empty[Double])))
    val df = (vecs ++ junk).toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 5000)
    val dir = java.nio.file.Files.createTempDirectory("ivf_nulls").toString
    try {
      Similarity.writeIvfIndex(df, "embedding", "vec_id", dir, seed = 3)
      assert(Similarity.loadQuantizer(spark, dir).numCells ==
        Similarity.autoCells(300L))
      // one probed cell: the candidates are exactly the query's cell, so
      // equal rows need equal cells
      val disk = topKRows(Similarity.probeIvfIndexBatch(queries, "embedding",
        "vec_id", dir, k = 3, nProbe = 1))
      val mem = topKRows(Similarity.ivfTopK(df, queries, "embedding",
        "vec_id", k = 3, nProbe = 1, seed = 3))
      assert(mem.nonEmpty && mem == disk)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(df.filter(col("vec_id") >= 300), queries,
        "embedding", "vec_id", k = 3)
    }
    assert(e.getMessage.contains("empty corpus"), e.getMessage)
  }

  test("quantizer training sample: full under cap, capped + stable above") {
    // the coarse quantizer trains on O(k) points (faiss-style), never
    // the full corpus: below max(128k, 2^16) rows the train set IS the
    // corpus; above, a deterministic hash-sample of ~cap rows — keyed
    // on xxhash64(id), so stable across partitionings and re-runs
    import spark.implicits._
    val small = spark.range(0, 1000).toDF("id")
    assert(Similarity.quantizerTrainSet(small, "id", 1000L, 16).count() == 1000,
      "under cap: train on everything")
    val n = 300000L
    val big = spark.range(0, n).toDF("id")
    val k = 448
    val cap = math.max(128L * k, 1L << 16)
    val s1 = Similarity.quantizerTrainSet(big, "id", n, k)
    val c1 = s1.count()
    assert(c1 < n / 2 && c1 > cap / 4,
      s"sampled size $c1 should be near cap $cap, well under $n")
    // determinism: same ids selected regardless of partitioning
    val s2 = Similarity.quantizerTrainSet(big.repartition(7), "id", n, k)
    assert(s2.count() == c1 &&
      s1.except(s2).isEmpty && s2.except(s1).isEmpty,
      "hash-keyed sample must be partitioning-independent")
  }

  test("IVF append cell assignment is a per-row map: zero Exchange") {
    // the corpus-growth path must not pay a batch × cells shuffle: the
    // fused NearestCentroid argmin rides the scan. The ONLY exchange in
    // the whole append is the intended one-writer-per-cell repartition
    // at write time — the assignment subplan itself must be narrow.
    import spark.implicits._
    val rng = new Random(9)
    val cents = Array.tabulate(8)(c => (c, Seq.fill(16)(rng.nextGaussian())))
    val batch = Seq.tabulate(100)(i =>
      (i.toLong, Seq.fill(16)(rng.nextGaussian()))).toDF("id", "vec")
    val assigned = Similarity.assignCells(batch,
      Similarity.FlatQuantizer(cents.toSeq))
    val exchanges = assigned.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.isEmpty,
      s"assignment plan must have no shuffle, found:\n" +
        assigned.queryExecution.executedPlan.toString)
    // and it assigns every row (sanity that the map actually ran)
    assert(assigned.count() == 100)
  }

  test("two-level IVF: nClusters past the flat cap builds a product " +
       "quantizer; planted twins probe rank-1; probe==driver ranking; " +
       "append matches build cells; curve machinery works") {
    val dir = java.nio.file.Files.createTempDirectory("ivf2l").toString
    val rng = new Random(17)
    val centers = Array.fill(20)(Array.fill(16)(rng.nextGaussian()))
    val vecs = (0L until 600L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.toSeq.map(_ + rng.nextGaussian() * 0.05))
    }.toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(vecs, "embedding", "vec_id", dir,
      nClusters = 4100, maxIter = 3, recallCurveSamples = 64)
    val q = Similarity.loadQuantizer(spark, dir)
    assert(q.isInstanceOf[Similarity.TwoLevelQuantizer],
      s"nClusters=4100 > FlatCellCap must build two-level, got $q")
    assert(q.numCells > 4096 && q.dim == 16)
    // flat enumeration of a two-level index fails LOUDLY
    intercept[IllegalStateException] {
      Similarity.loadCentroids(spark, dir)
    }
    // probe expression == driver-side ranking (shared kernel pin)
    val qn = {
      val v = centers(3).toSeq
      val n2 = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n2)
    }
    val exprCells = Seq(Tuple1(qn)).toDF("v")
      .select(q.probeCells(col("v"), 7).as("c")).head().getSeq[Int](0)
    assert(exprCells == q.topCells(qn, 7),
      "NearestCellsTwoLevel must equal the driver-side topCells")
    // rankOfCell consistency: the rank-1 cell IS topCells' first
    assert(q.rankOfCell(qn.toArray, exprCells.head) == 1)
    // planted twins probe rank-1 at cos 1.0 — the q62/q94 oracle
    // premise must survive the two-level route
    val probes = vecs.filter(pmod(col("vec_id"), lit(30)) === 0)
      .withColumn("vec_id", col("vec_id") + 100000)
    val res = Similarity.probeIvfIndexBatch(probes, "embedding", "vec_id",
      dir, k = 1).collect()
    assert(res.length == 20)
    res.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") ==
        r.getAs[Long]("query_id") - 100000 &&
        r.getAs[Double]("cos") == 1.0,
        s"twin must be its own rank-1 at cos 1.0: $r")
    }
    // single-query on-disk probe agrees
    val one = Similarity.probeIvfIndex(spark, dir,
      vecs.filter(col("vec_id") === 90L).head().getSeq[Double](1), k = 1)
      .head()
    assert(one.getLong(0) == 90L && one.getDouble(1) == 1.0)
    // append assigns with the build's exact numerics: a re-appended
    // vector lands in its original cell
    val cellsDf = cells(dir)
    val before = cellsDf.filter(col("id") === 7L)
      .select(col("_cell").cast("int")).head().getInt(0)
    Similarity.appendToIvfIndex(
      vecs.filter(col("vec_id") === 7L)
        .withColumn("vec_id", col("vec_id") + 555555),
      "embedding", "vec_id", dir)
    val after = cells(dir)
      .filter(col("id") === 555562L)
      .select(col("_cell").cast("int")).head().getInt(0)
    assert(after == before, "appended twin must share its source's cell")
    // recall curve: stored, monotone, resolves an operating point
    val curve = Similarity.recallCurve(spark, dir).get
    assert(curve.length == q.numCells)
    assert(curve.zip(curve.tail).forall { case (a, b) => a <= b })
    assert(curve.last == 1.0)
    assert(Similarity.nProbeForRecall(spark, dir, 1.0) <= q.numCells)
    // two-level assignment stays a narrow per-row map: zero Exchange
    val assigned = Similarity.assignCells(
      vecs.select(col("vec_id").as("id"), col("embedding").as("vec")), q)
    val exchanges = assigned.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.isEmpty, "two-level assignment must not shuffle")
  }

  test("IVF probe picks up an index rebuilt by another process") {
    // the quantizer cache is keyed by dir; an EXTERNAL rebuild (another
    // JVM) never calls this JVM's invalidation, so freshness must come
    // from the index meta's stamp. Simulate: build dim-8 index, warm the
    // cache, then file-copy a dim-4 index over it (bypassing
    // writeIvfIndex's same-JVM invalidation). A stale cache would reject
    // the dim-4 query against the remembered dim-8 centroids.
    val rng = new Random(5)
    def mk(dim: Int) = (0L until 60L).map(i =>
      (i, Seq.fill(dim)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    val dirA = java.nio.file.Files.createTempDirectory("ivf_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("ivf_b").toString
    try {
      Similarity.writeIvfIndex(mk(8), "embedding", "vec_id", dirA, nClusters = 2)
      Similarity.writeIvfIndex(mk(4), "embedding", "vec_id", dirB, nClusters = 2)
      val q8 = Seq.fill(8)(0.5)
      assert(Similarity.probeIvfIndex(spark, dirA, q8, k = 3).count() == 3)
      // external rebuild: copy B over A on the filesystem only
      import scala.jdk.CollectionConverters._
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val (a, b) = (Paths.get(dirA), Paths.get(dirB))
      Files.walk(a).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .filter(_ != a).foreach(Files.deleteIfExists(_))
      Files.walk(b).iterator().asScala.toSeq.filter(_ != b).foreach { p =>
        val t = a.resolve(b.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
      val q4 = Seq.fill(4)(0.5)
      val fresh = Similarity.probeIvfIndex(spark, dirA, q4, k = 3)
      assert(fresh.count() == 3, "probe must reload externally rebuilt centroids")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dirA)).deleteRecursively()
      new Directory(new java.io.File(dirB)).deleteRecursively()
    }
  }

  test("SRP banding never overflows the 64-bit signature") {
    // 8 bands x 16 bits would alias shifts mod 64 into garbage buckets
    assert(Similarity.autoPlanes(1L << 40, bands = 8) <= 64)
    intercept[IllegalArgumentException](Similarity.autoPlanes(1000, bands = 0))
    // bands=1, planes=64: the band mask must be -1L — (1L<<64)-1 is 0,
    // which would key EVERY vector into one bucket (a corpus cross-join)
    val rng = new Random(3)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(16)(rng.nextGaussian())))
      .toDF("id", "vec")
    val pairs = Similarity.cosinePairs(vecs, "vec", "id",
      minCosine = -1.0, planes = 64, bands = 1)
    assert(pairs.count() < 100,
      "64-bit single band must separate random vectors (zero mask -> 780 pairs)")
    intercept[IllegalArgumentException](
      Similarity.cosinePairs(vecs, "vec", "id", 0.5, planes = 2, bands = 4))
    // empty corpus is a legitimate pre-filtered pipeline state, not a crash
    val empty = Similarity.cosinePairs(vecs.filter(col("id") < 0), "vec", "id", 0.5)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id_a", "id_b", "cos"))
  }

  test("auto-sized defaults match their explicit equivalents") {
    // The r7 scale fixes turned three frozen tuning constants into
    // functions of input size; pin that auto = explicit-at-that-size so
    // the auto paths can't silently drift from the probed configurations.
    val rng = new Random(41)
    val base = (0L until 300L).map(i =>
      (i, Array.fill(16)(rng.nextGaussian()).toSeq)).toDF("vec_id", "embedding")
    // planted twin so there is at least one certain pair/neighbor
    val vecs = base.unionByName(
      base.filter(col("vec_id") === 0).withColumn("vec_id", lit(9000L)))

    // cosinePairs: planes = 0 resolves to autoPlanes(n, bands)
    val expectedPlanes = Similarity.autoPlanes(301L, bands = 4)
    val auto = Similarity.cosinePairs(vecs, "embedding", "vec_id",
      minCosine = 0.95, seed = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Similarity.cosinePairs(vecs, "embedding", "vec_id",
      minCosine = 0.95, planes = expectedPlanes, seed = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit, s"auto planes != explicit $expectedPlanes")
    assert(auto.contains((0L, 9000L)), "planted twin pair must be recalled")

    // ivfTopK: nClusters = 0 resolves to max(16, ceil(sqrt(n))); nProbe=0
    // resolves to the autoNProbe candidate budget (exhaustive here —
    // 301 rows is far under the 4096 budget)
    val queries = vecs.filter(col("vec_id") === 9000L)
    val cells = math.max(16, math.ceil(math.sqrt(301.0)).toInt)
    val kAuto = Similarity.ivfTopK(vecs, queries, "embedding", "vec_id",
      k = 3, seed = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val kExpl = Similarity.ivfTopK(vecs, queries, "embedding", "vec_id",
      k = 3, nClusters = cells,
      nProbe = Similarity.autoNProbe(cells, 301L), seed = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(kAuto.toSet == kExpl.toSet,
      s"auto cells != explicit sqrt(n): ${kAuto.toSeq} vs ${kExpl.toSeq}")
    assert(kAuto.exists { case (_, nb, rank) => nb == 0L && rank == 1 },
      "identical twin must win top-1 under auto sizing")
  }
  test("dedupAgainstCorpus: bloom route == shuffle route == text-equality " +
       "truth; planted dups drop, fresh and null-text rows survive") {
    val existing = Seq(
      (1L, "snapshot doc one"), (2L, "snapshot doc two"),
      (3L, "snapshot doc three"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "genuinely new doc"),          // new → kept
      (11L, "snapshot doc two"),           // re-crawl → dropped
      (12L, "snapshot doc three"),         // re-crawl → dropped
      (13L, null.asInstanceOf[String]),    // null never matches → kept
      (14L, "another new doc"),
      (15L, "snapshot doc one"))           // re-crawl → dropped
      .toDF("doc_id", "text")
    val want = Set(10L, 13L, 14L)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    // default (bloom + broadcast confirm) route
    assert(ids(Dedup.dedupAgainstCorpus(incoming, existing, "text")) == want)
    // forced shuffle route (sketch budget 0)
    assert(ids(Dedup.dedupAgainstCorpus(incoming, existing, "text",
      maxBloomBytes = 0L)) == want)
    // forced candidate-budget fallback (broadcast budget 0): bloom built,
    // candidate count over budget, shuffle anti join must still be exact
    assert(ids(Dedup.dedupAgainstCorpus(incoming, existing, "text",
      maxBroadcastRows = 0L)) == want)
    // output keeps every incoming column
    val out = Dedup.dedupAgainstCorpus(incoming, existing, "text")
    assert(out.columns.toSeq == Seq("doc_id", "text"))
  }

  test("dedupAgainstCorpus: a mostly-redundant batch over the row budget " +
       "takes the shuffle fallback WITHOUT planning a candidate broadcast; " +
       "a caller column named _h survives") {
    // 50 incoming rows, 45 of them re-crawls: candidates ≈ the batch,
    // which is exactly the docstring's fallback scenario. Budget of 10
    // rows must refuse BEFORE any broadcast: the returned plan carries
    // neither the bloom probe nor a broadcast hint.
    val existing = (0 until 60).map(i => (i.toLong, s"snapshot body $i"))
      .toDF("doc_id", "text")
    val incoming = ((0 until 45).map(i => (100L + i, s"snapshot body $i")) ++
      (0 until 5).map(i => (900L + i, s"fresh body $i")))
      .toDF("doc_id", "text")
    val out = Dedup.dedupAgainstCorpus(incoming, existing, "text",
      maxBroadcastRows = 10L)
    def broadcastHinted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectWithSubqueries {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          Seq(j.hint.leftHint, j.hint.rightHint).flatten
            .exists(_.strategy.contains(org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
      }.contains(true)
    val bloom = out.queryExecution.optimizedPlan.collectWithSubqueries {
      case n => n.expressions.flatMap(_.collect {
        case e if e.getClass.getSimpleName.toLowerCase.contains("bloom") => e })
    }.flatten
    assert(bloom.isEmpty, s"fallback plan must not probe the bloom sketch: $bloom")
    assert(!broadcastHinted(out), "fallback plan must not hint any broadcast")
    assert(out.select("doc_id").as[Long].collect().toSet ==
      (900L until 905L).toSet)
    // the default route on the same data DOES confirm via broadcast
    val fast = Dedup.dedupAgainstCorpus(incoming, existing, "text")
    assert(broadcastHinted(fast))
    assert(fast.select("doc_id").as[Long].collect().toSet ==
      (900L until 905L).toSet)
    // a real caller column named _h must survive to the output untouched
    val withH = incoming.withColumn("_h", col("doc_id") * 2)
    val kept = Dedup.dedupAgainstCorpus(withH, existing, "text")
    assert(kept.columns.toSeq == Seq("doc_id", "text", "_h"))
    assert(kept.select("doc_id", "_h").as[(Long, Long)].collect().toMap ==
      (900L until 905L).map(i => i -> i * 2).toMap)
  }

  test("dedupAgainstCorpus: empty snapshot keeps everything; fully " +
       "redundant batch returns nothing; expectedExisting skips the count") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val empty = existing.filter(col("doc_id") < 0)
    val incoming = Seq((10L, "a"), (11L, "b")).toDF("doc_id", "text")
    assert(Dedup.dedupAgainstCorpus(incoming, empty, "text").count() == 2)
    assert(Dedup.dedupAgainstCorpus(incoming, existing, "text").count() == 0)
    // pre-sized sketch (expectedExisting > 0) must not change the answer
    assert(Dedup.dedupAgainstCorpus(incoming, existing, "text",
      expectedExisting = 2L).count() == 0)
  }

  test("dedupAgainstCorpus at width: random corpus ground truth across " +
       "both routes (bloom false positives cleared by the confirm join)") {
    val rng = new Random(17)
    def txt(i: Int) = s"doc body ${rng.nextInt(1000)} $i"
    val existing = (0 until 400).map(i => (i.toLong, txt(i)))
    val fresh = (0 until 150).map(i => (1000L + i, s"new ${rng.nextInt(50)} $i"))
    val recrawl = existing.take(60).map { case (id, t) => (2000L + id, t) }
    val exDf = existing.toDF("doc_id", "text").repartition(5)
    val inDf = (fresh ++ recrawl).toDF("doc_id", "text").repartition(7)
    val truthTexts = existing.map(_._2).toSet
    val want = (fresh ++ recrawl).filterNot(r => truthTexts(r._2))
      .map(_._1).toSet
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    // tight fpp=0.5 sizing would FORCE false positives through the
    // confirm join; exactness must hold anyway
    assert(ids(Dedup.dedupAgainstCorpus(inDf, exDf, "text",
      fpp = 0.5)) == want)
    assert(ids(Dedup.dedupAgainstCorpus(inDf, exDf, "text",
      maxBloomBytes = 0L)) == want)
    assert(ids(Dedup.dedupAgainstCorpus(inDf, exDf, "text",
      maxBroadcastRows = 0L)) == want)
  }

  test("spreadNarrow: a big one-split file scan fans out to all cores; " +
       "a tiny one is returned untouched") {
    // the local layout artifact behind the r14 q94_build finding: a
    // single parquet file past the FanOutMinBytes floor (2 MB since the
    // r14 fanOut-floor fix) scans as ONE partition and serializes every
    // downstream compute pass. The file (~2.3 MB) stays under the 4 MB
    // `openCostInBytes` split floor, so it is one split at any core count.
    val dir = java.nio.file.Files.createTempDirectory("spread_narrow").toString
    val rng = new Random(23)
    (0 until 30000).map(i => (i.toLong, Seq.fill(8)(rng.nextDouble())))
      .toDF("id", "vec").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/big")
    Seq((1L, Seq(0.5))).toDF("id", "vec").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/tiny")
    val p = spark.sparkContext.defaultParallelism
    val big = spark.read.parquet(s"$dir/big")
    assert(big.rdd.getNumPartitions < p, "fixture must be a one-split scan")
    val spread = graft.sim.Similarity.spreadNarrow(big)
    assert(spread.rdd.getNumPartitions == p,
      s"big narrow scan must fan out to $p partitions")
    assert(spread.count() == 30000)
    val tiny = spark.read.parquet(s"$dir/tiny")
    val same = graft.sim.Similarity.spreadNarrow(tiny)
    assert(same.rdd.getNumPartitions == tiny.rdd.getNumPartitions,
      "below the byte floor the frame must come back untouched")
  }

}
