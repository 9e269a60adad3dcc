package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ScalaUDF}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The plan contract: every `SparkEntry.queries` key is built on sf0.001
  * and described by one line of `plans/contract.tsv`; any difference
  * fails. Columns:
  *  - `read_jobs`, `build_jobs`: Spark jobs started while the query is
  *    built (nothing is collected). A job whose stage is named
  *    `parquet at …` is a parquet footer/schema read; every other job is
  *    an operator's, and needs a `why`.
  *  - from the adaptive plan's initial physical plan (`executedPlan` of
  *    `AdaptiveSparkPlanExec`, the one `Par.spread` reads; no job runs),
  *    descending into each cached relation's plan and each subquery:
  *    shuffle and broadcast exchanges, each window's partition keys,
  *    joins and aggregates by kind, `Generate` nodes, Scala UDF calls,
  *    and each parquet scan's pushed filters by kind;
  *  - `cached`: distinct cached relations the plan reads.
  * Multi-valued cells list `kind*count`, sorted; `-` is none.
  *
  * Each query builds in a fresh session after the cache is cleared, so a
  * row does not depend on which queries (or suites) ran before it. On a
  * mismatch the observed table is written to `target/plan-contract.tsv`
  * (each row keeps its committed `why`) with the `cp` that accepts it:
  * a change that means to alter a plan commits a one-line diff per
  * query. */
class PlanContractSpec extends AnyFunSuite {
  import PlanContractSpec._

  test("plan contract: every query's build jobs and plan shape match plans/contract.tsv") {
    val t0 = System.nanoTime()
    val observed = SparkEntry.queries.keys.toSeq.sorted.map(q => q -> observe(q))
    TestSpark.spark.catalog.clearCache()
    val lines =
      if (Files.exists(committedPath)) Files.readAllLines(committedPath).asScala.toSeq
      else Seq(header)
    val committed: Map[String, (Seq[String], String)] =
      lines.tail.filter(_.nonEmpty).map { l =>
        val c = l.split("\t", -1).toSeq
        c.head -> ((c.init, c.last))
      }.toMap
    def why(q: String) = committed.get(q).fold("")(_._2)
    val got = observed.toMap
    val diffs = Seq(lines.head).filter(_ != header).map(h => s"- $h\n+ $header") ++
      (got.keySet ++ committed.keySet).toSeq.sorted.flatMap { q =>
        val want = committed.get(q).map(_._1.mkString("\t")).getOrElse("(no row)")
        val now = got.get(q).map(_.mkString("\t")).getOrElse("(no query)")
        if (want == now) Nil else Seq(s"- $want\n+ $now")
      }
    val whys = observed.flatMap { case (q, row) =>
      if ((row(2).toInt > 0) == why(q).nonEmpty) Nil
      else Seq(s"$q: build_jobs ${row(2)} with why '${why(q)}' (a build that " +
        "runs operator jobs says why in the why column; one that runs none has none)")
    }
    if (diffs.nonEmpty || whys.nonEmpty) {
      val table = (header +: observed.map { case (q, row) =>
        (row :+ why(q)).mkString("\t") }).mkString("", "\n", "\n")
      Files.createDirectories(observedPath.getParent)
      Files.writeString(observedPath, table)
      fail((diffs ++ whys).mkString(
        s"plan contract: ${diffs.size} row(s) differ, ${whys.size} why(s) wrong\n", "\n",
        s"\nobserved table: $observedPath; accept it with: cp $observedPath $committedPath"))
    }
    info(f"${observed.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}

object PlanContractSpec {
  /** The sf0.001 tables (TESTDATA.md). */
  private val sf = "/root/testdata/sf0.001"
  private val committedPath = Paths.get("plans/contract.tsv")
  private val observedPath = Paths.get("target/plan-contract.tsv")
  private val header = Seq("query", "read_jobs", "build_jobs", "shuffles",
    "broadcasts", "windows", "joins", "aggs", "generates", "udfs", "pushed",
    "cached", "why").mkString("\t")

  /** One contract row of `q`, without its `why`. */
  private def observe(q: String): Seq[String] = {
    TestSpark.spark.catalog.clearCache()
    val s = TestSpark.spark.newSession()
    val (plan, jobs) = TestSpark.jobsDuring(s)(
      SparkEntry.queries(q)(s, sf).queryExecution.executedPlan)
    val (nodes, cached) = flatten(plan)
    def count(f: PartialFunction[SparkPlan, Any]) = nodes.collect(f).size
    val reads = jobs.count(_.startsWith("parquet at "))
    Seq(q, reads.toString, (jobs.size - reads).toString,
      count { case e: ShuffleExchangeExec => e }.toString,
      count { case e: BroadcastExchangeExec => e }.toString,
      tally(nodes.collect { case w: WindowExec =>
        w.partitionSpec.map(show).mkString("(", ",", ")") }),
      tally(nodes.collect { case j: BaseJoinExec =>
        s"${j.nodeName}:${stripIds(j.joinType.toString)}" }),
      tally(nodes.collect { case a: BaseAggregateExec =>
        val modes = a.aggregateExpressions.map(_.mode.toString).distinct.sorted
        s"${a.nodeName}:${if (modes.isEmpty) "keys" else modes.mkString("+")}" }),
      count { case g: GenerateExec => g }.toString,
      nodes.map(_.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum)
        .sum.toString,
      tally(nodes.collect { case f: FileSourceScanExec if pushed(f).nonEmpty =>
        pushed(f).distinct.sorted.mkString("+") }),
      cached.toString)
  }

  /** Every node of `plan`: through the adaptive wrapper to its initial
    * plan, into subqueries, and into each cached relation's plan once;
    * with the number of distinct cached relations met. */
  private def flatten(plan: SparkPlan): (Seq[SparkPlan], Int) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case m: InMemoryTableScanExec =>
        m +: (if (seen.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan) else Nil)
      case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
    }
    val nodes = walk(plan)
    (nodes, seen.size)
  }

  /** The kind of each filter `f` hands its reader: the outermost names
    * of its `PushedFilters` entry, `[IsNotNull(text), Or(And(…),…)]`. */
  private def pushed(f: FileSourceScanExec): Seq[String] = {
    var depth = 0
    val name = new StringBuilder
    val kinds = Seq.newBuilder[String]
    f.metadata.getOrElse("PushedFilters", "[]").drop(1).dropRight(1).foreach {
      case '(' => if (depth == 0) kinds += name.result().trim; depth += 1
      case ')' => depth -= 1
      case ',' if depth == 0 => name.clear()
      case c => if (depth == 0) name += c
    }
    kinds.result()
  }

  private def show(e: Expression): String = e match {
    case a: Attribute => a.name
    case _ => stripIds(e.sql)
  }

  private def stripIds(s: String): String = s.replaceAll("#\\d+L?", "")

  /** `kind*count` per distinct kind, sorted; `-` when there is none. */
  private def tally(kinds: Seq[String]): String =
    if (kinds.isEmpty) "-"
    else kinds.groupBy(identity).toSeq.sortBy(_._1).map { case (k, v) =>
      if (v.size == 1) k else s"$k*${v.size}" }.mkString(" ")
}
