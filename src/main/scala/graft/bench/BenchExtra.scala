package graft.bench

/** Round-6 measurement harness (guide §1): times the SAME query suite
  * as [[graft.Bench]] with the same session config and per-query action,
  * but without the ingest trials — a 2-3 minute loop for optimization
  * iterations instead of Bench's ~20 minutes. Optionally:
  *
  *   - args            restrict to queries whose name starts with any arg
  *   - SPARK_GRAFT_EXPLAIN_DIR  dump .explain("formatted") per query
  *   - SPARK_GRAFT_QUERY_ACTION=noop  full materialization via noop sink
  *     (guide §1.4) instead of the series-comparable count()
  *   - SPARK_GRAFT_REPEATS     time each query N times (JIT/caches warm
  *     after the first), reporting every sample
  *
  * Bench.scala itself is frozen for measurement; numbers cited from this
  * main are labeled as such in OPTIMIZATION_r06.md.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = BenchSession("graft-bench-extra", s"local[$cpus]", cpus)

    // identical warmup to Bench.scala
    Seq("q01_pricing_summary", "dd03_ngram_jaccard", "dd06_embedding_neardup",
      "s01_knn_bruteforce", "dd07_dup_clusters", "dd08_incremental_neardup",
      "dd13_incremental_clusters")
      .foreach { n =>
        graft.SparkEntry.queries.get(n)
          .foreach(fn => fn(spark, "/root/testdata/sf0.001").count())
        graft.analytics.SessionCaches.release(spark)
      }
    graft.analytics.SessionCaches.release(spark)

    val queryControl = PlatformControl.run(spark)
    val fullMat = sys.env.get("SPARK_GRAFT_QUERY_ACTION").contains("noop")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "1").toInt
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    def runQuery(df: org.apache.spark.sql.DataFrame): Unit =
      if (fullMat) df.write.format("noop").mode("overwrite").save()
      else { df.count(); () }

    val wanted = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.exists(n.startsWith) }
    val results = wanted.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      val samples = (1 to repeats).map { i =>
        val t0 = System.nanoTime()
        try runQuery(fn(spark, sfDir)) catch { case _: Throwable => () }
        finally if (i == repeats)
          graft.analytics.SessionCaches.releaseAnonymous(spark)
        (System.nanoTime() - t0) / 1e9
      }
      explainDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        val plan = try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"explain failed: $e" }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, s"$name.txt"), plan)
      }
      spark.sparkContext.setJobDescription(null)
      name -> samples
    }
    graft.analytics.SessionCaches.release(spark)
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(x => f"$x%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2.head).sum
    println(s"""{"metric":"query_suite","value":${f"$total%.3f"},"unit":"sec","query_control_sec":${f"$queryControl%.2f"},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
