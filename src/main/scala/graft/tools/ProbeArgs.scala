package graft.tools

import org.apache.spark.sql.SparkSession

/** Command line of the probe mains: `key=value` options anywhere among
  * the positional arguments (query names, directories). Every probe
  * runs on `SPARK_GRAFT_CPUS` cores (default: the host's core count);
  * Spark conf A/Bs go through `SPARK_GRAFT_EXTRA_CONF`.
  */
private[tools] final case class ProbeArgs(opts: Map[String, String],
                                          positional: Seq[String]) {
  def int(key: String, default: Int): Int =
    opts.get(key).map(_.toInt).getOrElse(default)

  def session(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Sessions.build(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

private[tools] object ProbeArgs {
  def apply(args: Array[String]): ProbeArgs = {
    val (kv, pos) = args.toSeq.partition(a => a.contains('=') && !a.startsWith("/"))
    ProbeArgs(kv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }
      .toMap, pos)
  }

  /** Warm the JVM and parquet footers on whichever table `dir` has
    * (docs-only ScaleDataGen dirs carry no lineitem).
    */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    try graft.Tables.lineitem(spark, dir).count()
    catch { case _: Exception => graft.Tables.documents(spark, dir).count() }
    ()
  }

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }
}
