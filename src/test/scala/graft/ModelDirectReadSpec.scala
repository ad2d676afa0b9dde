package graft

import graft.operators.RelationalQueries
import graft.table.GraftTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row

/** The persisted ANN indexes' frozen models load through the one
  * driver-side parquet decoder ([[GraftTable.readParquetRows]]). On the
  * model dirs the q46d/e/f lifecycles really write — the coarse
  * quantizer `(int, array<double>)`, the PQ codebook
  * `(int, int, array<float>)` and the SRP params `(int, int, int,
  * string)` — it must give the rows `spark.read.parquet(...).collect()`
  * gives, and schedule no Spark job. */
class ModelDirectReadSpec extends TestBase {

  // (declared query, its scratch tag, model dir under the index root)
  private val models = Seq(
    ("q46d_ann_indexed", "q46d_ann", "model"),
    ("q46e_ann_pq_indexed", "q46e_ann", "codebook"),
    ("q46f_ann_srp_indexed", "q46f_ann", "srp_params"))

  /** The row's non-list fields: each model's key. */
  private def key(r: Row): String =
    r.toSeq.filterNot(_.isInstanceOf[scala.collection.Seq[_]]).mkString(",")

  test("the decoder reads the q46d/e/f model dirs exactly as Spark does, with zero Spark jobs") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    models.foreach { case (q, tag, sub) =>
      SparkEntry.queries(q)(spark, sfDir).collect()
      val dir = s"${RelationalQueries.scratch(tag, sfDir)}/$sub"
      org.apache.spark.ListenerBusDrain(sc)
      jobs.set(0)
      sc.addSparkListener(listener)
      val (rows, schema) =
        try {
          val r = GraftTable.readParquetRows(spark, dir)
          org.apache.spark.ListenerBusDrain(sc)
          r
        } finally sc.removeSparkListener(listener)
      assert(jobs.get == 0, s"decoding $dir scheduled ${jobs.get} Spark job(s)")

      val viaSpark = spark.read.parquet(dir)
      assert(schema.map(f => f.name -> f.dataType.simpleString) ==
        viaSpark.schema.map(f => f.name -> f.dataType.simpleString),
        s"$sub schema: $schema vs ${viaSpark.schema}")
      assert(schema.exists(_.dataType.simpleString.startsWith("array")) ||
        sub == "srp_params", s"$sub has no list column: $schema")
      val want = viaSpark.collect().toSeq.sortBy(key)
      assert(rows.nonEmpty)
      assert(rows.sortBy(key) == want, s"$sub rows differ from Spark's")
    }
  }
}
