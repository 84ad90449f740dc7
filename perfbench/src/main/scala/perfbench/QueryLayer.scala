package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.Checkpoints

/** The `queries.*` layer: every `SparkEntry.benchQueries` spec, once, in
  * a seed-permuted order, over generated tables. Each row's plan is
  * forced (`executedPlan`) before a noop sink materializes it. */
object QueryLayer {

  def traced(spark: SparkSession, tracer: Tracer, dir: String, seed: Long): (Map[String, Double], Outcome) = {
    val specs = new scala.util.Random(seed).shuffle(SparkEntry.benchQueries)
    tracer.newTrace()
    val failed = specs.count { sp =>
      !tracer.span(s"queries.${sp.name}") {
        try {
          val df = tracer.span("queries.plan") {
            val d = sp.fn(spark, dir)
            d.queryExecution.executedPlan
            d
          }
          tracer.span("queries.exec") { df.write.mode("overwrite").format("noop").save() }
          true
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] ${sp.name} failed: $e")
            false
        } finally Checkpoints.sweepAll(spark)
      }
    }
    val m = specs.map(sp => s"queries.${sp.name}.s" -> tracer.seconds(s"queries.${sp.name}")) :+
      ("queries.plan_s" -> tracer.seconds("queries.plan"))
    (m.toMap, Outcome(specs.size, failed))
  }
}
