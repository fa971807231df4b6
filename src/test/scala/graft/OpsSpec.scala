package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AsOfJoin, RangeJoin, Skew}

class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("asof backward join picks at-or-before, inclusive, per key") {
    val left = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 5L),
      (4L, "b", 100L), (5L, "c", 50L))
      .toDF("id", "k", "t")
    val right = Seq(
      ("a", 10L, "a@10"), ("a", 15L, "a@15"),
      ("b", 99L, "b@99"), ("b", 101L, "b@101"))
      .toDF("k", "t", "v")
    val got = AsOfJoin.backward(left, right, "k", "t", "t", Seq("v"))
      .select("id", "v").as[(Long, Option[String])].collect().toMap
    assert(got(1L).contains("a@10"), "inclusive: right at exactly t matches")
    assert(got(2L).contains("a@15"), "latest at-or-before wins")
    assert(got(3L).isEmpty, "nothing before -> null")
    assert(got(4L).contains("b@99"), "future right rows ignored")
    assert(got(5L).isEmpty, "unmatched key -> null")
  }

  test("salted aggregation equals the plain aggregation") {
    val df = (0L until 10000L).map(i => (if (i < 9000) "hot" else s"k${i % 50}", i))
      .toDF("k", "v")
    val plain = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val salted = Skew.saltedAgg(df, Seq("k"), salt = 8,
      partialAggs = Seq(sum("v").as("_s"), count(lit(1)).as("_n")),
      finalAggs = Seq(sum("_s").as("s"), sum("_n").cast("long").as("n")))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("salted join equals the plain join") {
    val left = (0L until 5000L).map(i => (if (i % 10 < 9) 1L else i % 100, i))
      .toDF("key", "v")
    val right = (0L until 100L).map(i => (i, s"dim$i")).toDF("key", "name")
    val plain = left.join(right, "key").agg(count(lit(1)), sum("v")).head()
    val salted = Skew.saltedJoin(left, right, "key", salt = 8)
      .agg(count(lit(1)), sum("v")).head()
    assert(plain.getLong(0) == salted.getLong(0))
    assert(plain.getLong(1) == salted.getLong(1))
  }

  test("salting never clobbers a caller's _salt column") {
    val left = (0L until 100L).map(i => ("k", i, i * 7)).toDF("key", "v", "_salt")
    val agg = Skew.saltedAgg(left, Seq("key"), salt = 4,
      partialAggs = Seq(sum("v").as("_s")),
      finalAggs = Seq(sum("_s").as("s")))
    assert(agg.head().getLong(1) == (0L until 100L).sum)
    val right = Seq(("k", "dim")).toDF("key", "name")
    val j = Skew.saltedJoin(left, right, "key", salt = 4)
    assert(j.count() == 100)
    assert(j.columns.contains("_salt"), "caller's _salt column preserved")
    assert(j.select(sum("_salt")).head().getLong(0) == (0L until 100L).map(_ * 7).sum,
      "caller's _salt VALUES untouched")
  }

  test("range join equals the naive range predicate, half-open, keyed") {
    val rng = new scala.util.Random(11)
    // negatives, boundary values, and multi-bucket spans all present
    val points = (0 until 400).map(i =>
      (i.toLong, if (i % 2 == 0) "g1" else "g2",
        math.floor(rng.nextDouble() * 400 - 200))).toDF("pid", "g", "v")
    val intervals = (0 until 60).map { i =>
      val lo = math.floor(rng.nextDouble() * 380 - 210)
      // widths 0..3 buckets at width 25; includes empty (span 0) ones
      (1000L + i, if (i % 2 == 0) "g1" else "g2", lo,
        lo + math.floor(rng.nextDouble() * 75))
    }.toDF("iid", "g", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals,
      "v", "lo", "hi", bucketWidth = 25.0, keyCols = Seq("g"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val want = points.as("p").join(intervals.as("i"),
        col("p.g") === col("i.g") &&
          col("v") >= col("lo") && col("v") < col("hi"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty, "test data must produce matches")
    // boundary semantics: v == lo matches, v == hi does not
    val bp = Seq((1L, 0.0), (2L, 50.0)).toDF("pid", "v")
    val bi = Seq((9L, 0.0, 50.0)).toDF("iid", "lo", "hi")
    val edge = RangeJoin.pointInInterval(bp, bi, "v", "lo", "hi", 25.0)
      .select("pid").as[Long].collect().toSet
    assert(edge == Set(1L), "half-open [lo, hi)")
  }

  test("range join plans a hash equi-join, never a nested-loop cartesian") {
    val points = (0 until 100).map(i => (i.toLong, i * 3.0)).toDF("pid", "v")
    val intervals = (0 until 20).map(i => (i.toLong, i * 20.0, i * 20.0 + 30.0))
      .toDF("iid", "lo", "hi")
    val joined = RangeJoin.pointInInterval(points, intervals,
      "v", "lo", "hi", bucketWidth = 20.0)
    assert(!PlanNodes.has(joined, "NestedLoop") && !PlanNodes.has(joined, "Cartesian"),
      s"range join must stay an equi-join: ${PlanNodes.of(joined).map(_.nodeName)}")
  }

  test("range join fails loudly past the interval fan-out bound") {
    val points = Seq((1L, 5.0)).toDF("pid", "v")
    val bad = Seq((1L, 0.0, 1e9)).toDF("iid", "lo", "hi")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(points, bad, "v", "lo", "hi",
        bucketWidth = 1.0, maxFanout = 100).count()
    }
    assert(e.getMessage != null)
  }

  test("pinLatest keeps a logically-identical re-pin cached") {
    import graft.ops.Par
    // a fresh Dataset each call, but the SAME logical plan — the shape of
    // a repeat bench iteration or repeated serving call
    def frame = spark.range(0, 1000).toDF("id")
      .withColumn("v", col("id") * 2)
    val first = Par.pinLatest("spec.pin", frame)
    first.count()
    assert(first.storageLevel.useMemory, "first pin must be cached")
    val second = Par.pinLatest("spec.pin", frame)
    second.count()
    // Spark's cache resolves both pins to ONE entry by plan sameResult;
    // the old reference-equality eviction guard removed that shared
    // entry here and the intermediate silently recomputed ever after
    assert(second.storageLevel.useMemory,
      "re-pinning the same logical frame must not evict the shared cache entry")
    assert(first.storageLevel.useMemory)
    // a genuinely different pin under the same key still evicts
    val third = Par.pinLatest("spec.pin", spark.range(0, 10).toDF("other"))
    third.count()
    assert(third.storageLevel.useMemory)
    assert(!second.storageLevel.useMemory,
      "a different plan under the same key evicts the previous pin")
    Par.unpin("spec.pin", third)
    assert(!third.storageLevel.useMemory, "unpin releases the cache entry")
    // after unpin the registry holds no stale entry: a fresh pin of the
    // SAME plan persists and stays cached (a stale sameResult entry
    // would alias it; pre-fix that unpersisted the fresh pin)
    val again = Par.pinLatest("spec.pin", spark.range(0, 10).toDF("other"))
    again.count()
    assert(again.storageLevel.useMemory,
      "pin after unpin of an identical plan must stay cached")
    Par.unpin("spec.pin", again)
  }
}
