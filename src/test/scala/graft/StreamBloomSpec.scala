package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Stream == batch for the sharded Bloom filter: shipped fingerprints fed
  * through StreamBloom in three micro-batches, shard arrays OR-merged,
  * must be bit-identical to the batch `dedup_bloom` build — and probing
  * the merged array must reproduce the oracle-checked membership rows.
  */
class StreamBloomSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("streamed shard arrays OR-merge to the batch filter; probes reproduce dedup_bloom") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = graft.queries.Queries16.bloomDocs(spark, dir)
    val shipped = docs.filter(col("doc_id") % 3 =!= 1)
      .select("fp").distinct().as[String].collect().sorted
    assert(shipped.length > 50)

    val mem = MemoryStream[String]
    val sketched = graft.streaming.StreamBloom.sketch(spark, mem.toDF().toDF("fp"))
    val q = sketched.writeStream.format("memory").queryName("sbloom")
      .outputMode("update").start()
    try {
      shipped.grouped((shipped.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // final emission per shard = the one with the largest position count
      val shards = spark.sql(
        """SELECT shard, words FROM (
          |  SELECT *, row_number() OVER (PARTITION BY shard
          |    ORDER BY n_positions DESC) AS rk FROM sbloom) t WHERE rk = 1""".stripMargin)
        .as[(Int, Map[Int, Long])].collect()
      assert(shards.length > 1, "multiple shards carry state in parallel")

      // OR-merge the shard arrays
      val merged = scala.collection.mutable.Map[Int, Long]()
      shards.foreach { case (_, words) =>
        words.foreach { case (w, bits) =>
          merged(w) = merged.getOrElse(w, 0L) | bits
        }
      }

      // batch build with the identical spelling
      val batchWords = spark.createDataset(shipped.toIndexedSeq).toDF("fp")
        .select(explode(array(graft.queries.Queries16.BloomSalts.map(s =>
          graft.queries.Queries16.bloomPos(s, col("fp"))): _*)).as("pos"))
        .select((col("pos") / 32).cast("int").as("w"),
          call_function("shiftleft", lit(1L), (col("pos") % 32).cast("int")).as("bitv"))
        .groupBy("w").agg(expr("bit_or(bitv)").as("bits"))
        .as[(Int, Long)].collect().toMap

      assert(merged.toMap == batchWords, "OR of shard arrays == batch filter bits")

      // probing the merged array reproduces the oracle-checked membership
      val report = SparkEntry.queries("dedup_bloom")(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val batchFps = docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"),
          array(graft.queries.Queries16.BloomSalts.map(s =>
            graft.queries.Queries16.bloomPos(s, col("fp"))): _*).as("ps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
      batchFps.foreach { case (id, ps) =>
        val hit = ps.forall { p =>
          (merged.getOrElse(p / 32, 0L) >> (p % 32) & 1L) == 1L
        }
        assert(hit == report(id), s"doc $id membership from the streamed filter")
      }
    } finally q.stop()
  }
}
