package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.queries.Registry

/** The plan walk behind catalyst.exchanges, catalyst.reused_exchanges,
  * catalyst.sort_merge_joins and functions.hof_lambdas must count what the
  * formatted plan of the executed query shows. Run by perfbench/selftest.py
  * with a directory of seeded tables as its argument; prints one line per
  * test and exits 1 if any fails. */
object PlanWalkCheck {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private var data: String = _
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit = {
    val outcome = try { body; "ok" } catch { case e: Throwable => failures += 1; s"FAILED: $e" }
    println(s"$name: $outcome")
  }

  private def assert(ok: Boolean, detail: => String = ""): Unit =
    if (!ok) throw new AssertionError(detail)

  def main(args: Array[String]): Unit = {
    data = args(0)
    spark.sparkContext.setLogLevel("ERROR")
    tests()
    spark.stop()
    println(s"plan-walk checks: $failures failed")
    if (failures > 0) sys.exit(1)
  }

  /** Counts read off the text of a formatted plan: the tree lines outside
    * the initial plans of adaptive execution, and `lambdafunction(` in the
    * details of the node each of those lines names (a cached plan read
    * twice is drawn, and counted, twice). */
  private def textCounts(text: String): PlanCounts = {
    val lines = text.linesIterator.toVector
    val Node = """^([\s:|+\-*]*)([A-Za-z]+)[^()]*\((\d+)\).*$""".r
    val detailStart = lines.indexWhere(_.matches("""^\(\d+\) .*"""))
    val tree = if (detailStart < 0) lines else lines.take(detailStart)
    // an initial plan is the subtree under its marker: the lines indented
    // at least as deep as the marker's text
    var skipFrom = Int.MaxValue
    val nodes = tree.flatMap { l =>
      val col = l.indexWhere(c => c.isLetter || c == '=')
      if (col >= skipFrom) None
      else {
        skipFrom = if (l.contains("== Initial Plan ==")) col else Int.MaxValue
        l match {
          case Node(_, name, id) => Some(name -> id.toInt)
          case _ => None
        }
      }
    }
    val details = lines.drop(math.max(0, detailStart)).mkString("\n")
      .split("\n(?=\\(\\d+\\) )").toSeq
      .flatMap(b => """^\((\d+)\) """.r.findPrefixMatchOf(b).map(m => m.group(1).toInt -> b))
      .toMap
    def named(ns: String*) = nodes.count(n => ns.contains(n._1))
    PlanCounts(
      exchanges = named("Exchange", "BroadcastExchange"),
      reusedExchanges = named("ReusedExchange"),
      sortMergeJoins = named("SortMergeJoin"),
      nestedLoopJoins = named("BroadcastNestedLoopJoin", "CartesianProduct"),
      hofLambdas = nodes.map(_._2).map(id =>
        "lambdafunction\\(".r.findAllMatchIn(details.getOrElse(id, "")).size).sum,
      nativeExprs = 0)
  }

  private def tests(): Unit = {
    // dedup_minhash nests adaptive plans inside cached relations three deep,
    // and the formatted text of those is not indented by depth, so its text
    // is read with adaptive execution off.
    for ((name, adaptive) <- Seq("tpch_q18" -> true, "cur_bloom_gate" -> true,
        "dedup_minhash" -> false))
      test(s"plan-walk counts equal the formatted plan of $name (adaptive $adaptive)") {
        spark.conf.set("spark.sql.adaptive.enabled", adaptive.toString)
        try {
          val df = Registry.all.find(_.name == name).get.run(spark, data)
          df.collect() // executes this QueryExecution, so the adaptive plans are final
          val qe = df.queryExecution
          val walked = PlanWalk.counts(qe.executedPlan).copy(nativeExprs = 0)
          val text = qe.explainString(ExplainMode.fromString("formatted"))
          val counted = textCounts(text)
          assert(walked == counted, s"walk $walked vs text $counted\n$text")
        } finally {
          spark.conf.unset("spark.sql.adaptive.enabled")
          spark.catalog.clearCache()
        }
      }

    test("the walk sees exchanges and lambdas in these plans") {
      // guards the comparison above against both sides counting nothing
      val counts = Seq("tpch_q18", "cur_bloom_gate").map { n =>
        val df = Registry.all.find(_.name == n).get.run(spark, data)
        df.collect()
        PlanWalk.counts(df.queryExecution.executedPlan)
      }
      assert(counts.head.exchanges > 0)
      assert(counts(1).hofLambdas > 0)
    }
  }
}
