package graft

// Probe: the gate session (GateRunner.session) installs graft.GraftExtensions
// through spark.sql.extensions: its SQL functions resolve, and its optimizer
// rule is inert until its conf key is set. BenchSpec runs it in a JVM of its
// own. sbt "Test/runMain graft.ExtensionsProbe"
object ExtensionsProbe {
  def main(args: Array[String]): Unit = {
    val spark = GateRunner.session(2)
    spark.sparkContext.setLogLevel("ERROR")
    val r = spark.sql("SELECT lev_sim('AB', 'BB', 5.0, 10.0) AS s").head().getDouble(0)
    println(s"[ext-probe] lev_sim via extensions = $r (expect 2.0)")
    assert(r == 2.0)
    val m = spark.sql(
      "SELECT minhash_sig(array(xxhash64('a'), xxhash64('b')), 4) AS s")
      .head().getSeq[Long](0)
    println(s"[ext-probe] minhash_sig via extensions = $m (expect 4 longs)")
    assert(m.length == 4)
    val sh = spark.sql(
      "SELECT simhash_sig(array(xxhash64('a'))) AS s, xxhash64('a') AS h")
      .head()
    // single token: simhash == the token hash's bit pattern
    println(s"[ext-probe] simhash_sig = ${sh.getLong(0)} (expect ${sh.getLong(1)})")
    assert(sh.getLong(0) == sh.getLong(1))
    val hp = spark.sql(
      "SELECT hyperplane_sig(array(CAST(0.5 AS FLOAT), CAST(-1.5 AS FLOAT)), 8) AS s")
      .head().getLong(0)
    println(s"[ext-probe] hyperplane_sig via extensions = $hp (8-bit sketch)")
    assert(hp >= 0 && hp < 256)
    val sp = spark.sql(
      "SELECT span_hashes(array(xxhash64('a'), xxhash64('b'), xxhash64('c')), 2) AS s, " +
        "xxhash64(array(xxhash64('a'), xxhash64('b'))) AS w1, " +
        "xxhash64(array(xxhash64('b'), xxhash64('c'))) AS w2").head()
    println(s"[ext-probe] span_hashes = ${sp.getSeq[Long](0)}")
    assert(sp.getSeq[Long](0) == Seq(sp.getLong(1), sp.getLong(2)))
    // optimizer-rule injection: the interval join keeps its nested-loop
    // plan until the band conf opts in, then loses it
    def ij = spark.sql(
      """SELECT l.id FROM (SELECT timestamp_micros(id * 1000000) AS ts, id
        |  FROM range(100)) l
        |JOIN (SELECT timestamp_micros(id * 50000000) AS s,
        |    timestamp_micros(id * 50000000 + 10000000) AS e
        |  FROM range(10)) r
        |ON l.ts >= r.s AND l.ts < r.e""".stripMargin)
    assert(ij.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    spark.conf.set(graft.plans.BandedRangeJoinRule.ConfKey, "3600000000")
    val ijPlan = ij.queryExecution.executedPlan.toString
    assert(!ijPlan.contains("BroadcastNestedLoopJoin"), ijPlan.take(2000))
    println(s"[ext-probe] banded range-join rule rewrote the plan; " +
      s"rows = ${ij.count()}")
    println(Done)
    spark.conf.set(graft.plans.BandedRangeJoinRule.ConfKey, "0")
    spark.stop()
  }

  /** The last line a passing run prints. */
  val Done = "[ext-probe] ok"
}
