package org.apache.spark.graftcensus {

  import org.apache.spark.SparkContext

  /** Spark keeps its live listener bus package-private. The census
    * waits on it after each query, so that every execution is filed
    * under the query that started it. */
  object ListenerBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  }
}

package graft {

  import java.nio.charset.StandardCharsets
  import java.nio.file.{Files, Paths}

  import scala.collection.mutable

  import org.apache.spark.graftcensus.ListenerBus
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.util.QueryExecutionListener

  /** Plan census: the optimized logical plan and the final executed
    * plan of every execution each catalog query starts, normalized so
    * that two runs of the same code can be diffed byte for byte.
    *
    * {{{
    * sbt "Test/runMain graft.PlanCensus <sfdir> <out.json> [query…]"
    * }}}
    *
    * Each named [[SparkEntry.queries]] entry (all of them when none is
    * named) is built and written to the `noop` sink in one
    * [[GraftSession.local]] session. A `QueryExecutionListener` records
    * every execution, the builder-time jobs included, in the order it
    * finished. The output is one JSON object with the query names as
    * sorted keys; each value is the list of `{"logical", "name",
    * "plan"}` records of that query's executions (`"error"` instead of
    * the plans for a failed one). Run it at the parent and at a change,
    * then `diff` the two files. The logical plan is fixed before any job
    * runs; the final plan holds AQE's runtime choices (a join's build
    * side, which exchange is reused), and a few of those vary between
    * runs of the same code, so compare final plans against every variant
    * the parent shows.
    *
    * Plans print every field (`spark.sql.debug.maxToStringFields` is
    * lifted for the run). [[normalize]] removes what differs between two
    * runs of the same plan: expression ids, whole-stage codegen stage
    * ids, adaptive query-stage ids, exchange plan ids (which also name
    * the exchange a `ReusedExchange` points at), lambda variable names,
    * JVM lambda class names, observation ids, the dataset id a
    * `CollectMetrics` node carries and the random part of
    * `graft_<tag>…` scratch dirs. */
  object PlanCensus {

    private val rules: Seq[(scala.util.matching.Regex, String)] = Seq(
      raw"#\d+".r -> "#N",
      raw"\*\(\d+\)".r -> "*(N)",
      raw"\b(ShuffleQueryStage|BroadcastQueryStage|TableCacheQueryStage|ResultQueryStage) \d+".r ->
        "$1 N",
      raw"\[plan_id=\d+\]".r -> "[plan_id=N]",
      raw"\b(lambda \w+?)_\d+\b".r -> "$1_N",
      raw"\$$Lambda[$$\d]*/0x\p{XDigit}+@\p{XDigit}+".r -> "\\$Lambda",
      raw"\b\p{XDigit}{8}-\p{XDigit}{4}-\p{XDigit}{4}-\p{XDigit}{4}-\p{XDigit}{12}\b".r -> "<uuid>",
      raw"graft_\w+".r -> "graft_<tmp>",
      raw"(?m)^(.*CollectMetrics .*), \d+$$".r -> "$1, N")

    def normalize(plan: String): String =
      rules.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }

    private def finalPlan(qe: QueryExecution): String = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.treeString
      case p => p.treeString
    }

    private def json(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    def main(args: Array[String]): Unit = {
      require(args.length >= 2, "usage: PlanCensus <sfdir> <out.json> [query…]")
      val Array(sfDir, out) = args.take(2)
      val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

      val records = mutable.ArrayBuffer.empty[String]
      def record(fields: (String, String)*): Unit = records.synchronized {
        records += fields.sortBy(_._1)
          .map { case (k, v) => s"${json(k)}: ${json(normalize(v))}" }.mkString("{", ", ", "}")
      }
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          record("name" -> funcName, "logical" -> qe.optimizedPlan.treeString,
            "plan" -> finalPlan(qe))
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
          record("name" -> funcName, "error" -> String.valueOf(e.getMessage))
      })

      // every field printed: the default cuts a node's or an expression's
      // field list at 25, which would hide a change past the cut
      val census = GraftSession.withConf(spark)(
          "spark.sql.debug.maxToStringFields" -> Int.MaxValue.toString) {
        names.map { n =>
          try SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => System.err.println(s"[census] $n failed: ${e.getMessage}") }
          ListenerBus.drain(spark.sparkContext)
          val execs = records.synchronized { val r = records.toList; records.clear(); r }
          n -> execs
        }
      }.sortBy(_._1)

      val body = census.map { case (n, execs) =>
        s"  ${json(n)}: [\n" + execs.map("    " + _).mkString(",\n") + "\n  ]"
      }.mkString("{\n", ",\n", "\n}\n")
      Files.write(Paths.get(out), body.getBytes(StandardCharsets.UTF_8))
      println(s"[census] ${census.map(_._2.size).sum} executions of ${census.size} queries -> $out")
      spark.stop()
    }
  }
}
