package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import graft.SparkEntry

/** `query_mix`: closed loop, one client, over the read-side analytic engine.
  * The corpus and the key order are fixed; the seed changes nothing here.
  * Each key runs `SparkEntry.queries(key)` on the committed sf0.1 corpus and
  * is forced with a full-row drain of its own optimized plan; the drain
  * hashes every row, and the (row count, hash sum) digest must equal the
  * committed one.
  */
object QueryMix {
  val keys: Seq[String] = Seq(
    "q_agg_hash", "q_cdc_apply_scale", "q_similarity_ann_ivf", "q_decontaminate_semantic_ivf",
    "q_graph_pagerank")

  /** (rows, sum of per-row XXH64) of each key's output on the committed
    * corpus; the outputs they were taken from pass the DuckDB oracle
    * (`tools/selfcheck.py`).
    */
  val digests: Map[String, (Long, Long)] = Map(
    "q_agg_hash" -> (6L, 6981933846663049568L),
    "q_cdc_apply_scale" -> (740L, 5330927056137890927L),
    "q_similarity_ann_ivf" -> (30L, -2126985193547405355L),
    "q_decontaminate_semantic_ivf" -> (1935L, 4108436174295897005L),
    "q_graph_pagerank" -> (20L, 6882662974608262640L))

  /** Row count and order-independent hash of every output row. */
  def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }

  def run(c: Ctx): Result = {
    val r = new Result
    val dir = c.data.resolve("sf0.1").toString
    val queries = SparkEntry.queries
    val missing = keys.filterNot(queries.contains)
    if (missing.nonEmpty) r.problem(s"unknown query keys: $missing")
    val sc = c.spark.sparkContext
    def clean(): Unit = {
      c.spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    // set-up is planning every key on a throwaway instance: build its
    // DataFrame (builders that train a quantizer or iterate rounds run
    // those jobs eagerly) and run the optimizer, the engine's functions
    // included. It reads the small sf0.001 corpus, so the figure is the
    // engine's per-query fixed cost rather than a second pass over the data.
    val planDir = c.data.resolve("sf0.001").toString
    r.metrics("setup_s") = Metrics.setupSeconds(3)(_ => clean()) { _ =>
      keys.filter(queries.contains).foreach(k => queries(k)(c.spark, planDir).queryExecution.optimizedPlan)
    }
    clean()
    c.phase("set-up")
    // a fixed order: the corpus is fixed too, so runs repeat the same work
    val passes = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    val perKey = mutable.HashMap.empty[String, Double]
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < c.seconds) {
      val t0 = System.nanoTime()
      keys.filter(queries.contains).foreach { k =>
        // tags the key's jobs, so a traced run credits their stages to it
        sc.setLocalProperty(SparkLayers.KeyProperty, k)
        val k0 = System.nanoTime()
        val d = c.measuring {
          c.tracer.span(s"query.$k") {
            try Some(digest(queries(k)(c.spark, dir)))
            catch { case e: Exception =>
              System.err.println(s"[perfbench] $k threw: $e"); None
            }
          }
        }
        perKey(k) = perKey.getOrElse(k, 0.0) + (System.nanoTime() - k0) / 1e9
        sc.setLocalProperty(SparkLayers.KeyProperty, null)
        r.attempted += 1
        d.foreach(x => rows += x._1)
        if (d.isEmpty || !digests.get(k).contains(d.get)) {
          r.failed += 1
          r.problem(s"$k digest ${d.getOrElse("none")}, committed ${digests.get(k)}")
        }
        clean()
        c.phase(k)
      }
      passes += (System.nanoTime() - t0) / 1e9
      c.sampleHeap()
    }
    val p50 = Metrics.median(passes.toSeq)
    r.metrics("latency_p50_s") = p50
    r.metrics("commit_p50_s") = p50
    r.metrics("throughput_rows_per_s") = rows / passes.sum
    perKey.foreach { case (k, s) => r.metrics(s"query.${k}_s") = s / passes.size }
    r.passes = passes.size
    r
  }
}
