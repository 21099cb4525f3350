package graft.tools

import org.apache.spark.sql.functions._

/** Micro-decomposition of the small-k topk_pairs path: partial update
  * throughput (candidate-scale) and final merge cost (buffer-scale),
  * against the interpreted heap on the same data. Prints per-phase
  * seconds for each engine.
  */
object TopKMicro {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val n = 4000000L
    val groups = 64
    val df = spark.range(n).repartition(8)
      .select((col("id") % groups).as("g"),
        (col("id") * 2654435761L % 1000000 / 1000.0).as("s"),
        col("id"))
    df.write.format("noop").mode("overwrite").save() // warm scan

    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val m = s.stageInfo.taskMetrics
          println(f"  stage${s.stageInfo.stageId} " +
            f"tasks=${s.stageInfo.numTasks} " +
            f"run=${m.executorRunTime / 1e3}%.2fs " +
            f"cpu=${m.executorCpuTime / 1e9}%.2fs " +
            f"deser=${m.executorDeserializeTime / 1e3}%.2fs " +
            f"gc=${m.jvmGCTime / 1e3}%.2fs " +
            f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.1fMB")
        }
      })
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            if (t.getName.startsWith("Executor task launch")) {
              val key = st.take(6).map(f =>
                f.getClassName.split('.').last + "." + f.getMethodName)
                .mkString(" <- ")
              hist.merge(key, 1, Integer.sum(_, _))
            }
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    def time(tag: String)(body: => Unit): Unit = {
      (1 to 3).foreach { i =>
        hist.clear(); sampling = true
        val t0 = System.nanoTime()
        body
        sampling = false
        println(f"$tag rep$i ${(System.nanoTime() - t0) / 1e9}%.3fs")
        if (i == 3) {
          import scala.jdk.CollectionConverters._
          hist.asScala.toSeq.sortBy(-_._2).take(6).foreach { case (k, v) =>
            println(s"  HOT $v  $k")
          }
        }
      }
    }
    // k=10: the bounded heap (TopKPairsSmall was measured and removed;
    // every k > 1 runs the heap, k = 1 the min-struct composition)
    time("small-k10") {
      df.groupBy("g")
        .agg(graft.functions.VectorFunctions
          .topk_pairs(col("s"), col("id"), 10).as("tk"))
        .write.format("noop").mode("overwrite").save()
    }
    // k=20: the same heap TypedImperativeAggregate
    time("heap-k20 ") {
      df.groupBy("g")
        .agg(graft.functions.VectorFunctions
          .topk_pairs(col("s"), col("id"), 20).as("tk"))
        .write.format("noop").mode("overwrite").save()
    }
    val q = df.groupBy("g")
      .agg(graft.functions.VectorFunctions
        .topk_pairs(col("s"), col("id"), 10).as("tk"))
    q.write.format("noop").mode("overwrite").save()
    val finalPlan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    println("PLAN:\n" + finalPlan.toString
      .linesIterator.take(14).mkString("\n"))
    finalPlan.collectFirst {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        println("supportCodegen=" + h.supportCodegen +
          " fallbackExpr=" + h.expressions.exists(_.exists(e =>
            e.isInstanceOf[org.apache.spark.sql.catalyst.expressions
              .codegen.CodegenFallback] &&
              !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions
                .LeafExpression])))
    }
    val cg = org.apache.spark.sql.execution.debug
      .codegenString(finalPlan)
    println("CODEGEN summary: " + cg.linesIterator
      .filter(_.contains("WholeStageCodegen")).take(5).mkString(" | "))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/topk_codegen.txt"), cg)
    spark.stop()
  }
}
