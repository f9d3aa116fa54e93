package graft

import org.apache.spark.sql.types._

/** Standalone streaming smoke: drives the CDC file source →
  * PartitionedUpsert sink end-to-end under the production posture —
  * RocksDB state store + changelog checkpointing — including a
  * KILL-AND-RESUME leg that proves exactly-once:
  *
  *   phase 1: create/update events → stop the query (the "kill")
  *   phase 2: a NEW query on the SAME checkpoint receives a stale
  *            REDELIVERY of an already-applied event (same lsn, wrong
  *            value) plus genuinely new events. The dedup state
  *            recovered from the changelog checkpoint suppresses the
  *            replay; the new events apply. A wrong final state here
  *            means state recovery failed.
  *
  * Run with `sbt "runMain graft.StreamSmoke"`; prints one
  * STREAM_SMOKE_FINAL_STATE line. */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4).master("local[4]")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val payload = StructType(Seq(
      StructField("pk", LongType), StructField("val", DoubleType)))
    val base = java.nio.file.Files.createTempDirectory("graft_smoke").toString
    val srcDir = s"$base/changes"
    new java.io.File(srcDir).mkdirs()
    def env(op: String, pk: Long, v: Double, lsn: Long) =
      s"""{"op":"$op","after":{"pk":$pk,"val":$v},"source":{"table":"t","lsn":$lsn},"ts_ms":${1700000000000L + lsn}}"""
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/$name"), lines.mkString("\n")): Unit

    def startQuery() = {
      val changes = streaming.CdcStream.source(spark, srcDir, payload)
        .select($"after.pk".as("pk"), $"after.val".as("val"), $"op", $"lsn")
      streaming.CdcStream.partitionedUpsertSink(
        changes, s"$base/tgt", s"$base/ckpt", "pk", "lsn", "op",
        Seq("val"), nBuckets = 8)
    }

    // ---- phase 1: normal processing, then kill -------------------------
    write("a.json", Seq(env("c", 1, 1.0, 1), env("c", 2, 2.0, 2)))
    val q1 = startQuery()
    q1.processAllAvailable()
    write("b.json", Seq(env("u", 1, 7.5, 3), env("d", 2, 0.0, 4)))
    q1.processAllAvailable()
    q1.stop() // kill between batches; offsets + dedup state are checkpointed

    // ---- phase 2: resume from the same checkpoint ----------------------
    // c.json redelivers lsn 3 with a STALE value (1111.0): only the
    // recovered dedup state stops it from clobbering pk 1's 7.5 —
    // the parquet target keeps no per-key lsn to defend itself with
    write("c.json", Seq(env("u", 1, 1111.0, 3), env("c", 5, 5.0, 5)))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val state = graft.ops.cdc.PartitionedUpsert.read(spark, s"$base/tgt")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val expected = Seq((1L, 7.5), (5L, 5.0))
    println("STREAM_SMOKE_FINAL_STATE: " + state.mkString(", ") +
      (if (state.toSeq == expected) " [EXACTLY-ONCE OK]"
       else s" [MISMATCH, expected ${expected.mkString(", ")}]"))
    spark.stop()
    if (state.toSeq != expected) sys.exit(1)
  }
}
