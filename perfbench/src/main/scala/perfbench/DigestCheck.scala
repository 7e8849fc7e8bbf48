package perfbench

import org.apache.spark.sql.SparkSession

/** Prints the query-mix digest of each key's dump under `<dir>/<key>` (the
  * parquet layout `graft.Verify` writes and `tools/selfcheck.py` replays
  * against DuckDB), next to the committed digest. Used to confirm the
  * committed digests once a dump has passed the oracle:
  *
  *   java -cp perfbench/target/scala-2.13/classes:"$SPARK_HOME"/jars/'*' \
  *     perfbench.DigestCheck <verify-output-dir>
  */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QueryMix.keys.foreach { k =>
      val d = QueryMix.digest(spark.read.parquet(s"${args(0)}/$k"))
      val ok = QueryMix.digests.get(k).contains(d)
      println(s"$k ${d._1} ${d._2} ${if (ok) "matches" else "DIFFERS from"} committed ${QueryMix.digests.get(k)}")
    }
    spark.stop()
  }
}
