package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{coalesce, col}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ops.cdc.{AtomicPublish, PartitionedUpsert}
import graft.streaming.CdcStream

/** A graft session's `file:` scheme is served by [[GraftLocalFileSystem]]
  * and [[GraftLocalFs]], which set permissions and read link statuses
  * through `java.nio`: a MERGE, a streamed change file and an UPDATE on
  * a catalog table start no `chmod` or `readlink` process, and the
  * files, directories and statuses are those Hadoop's stock local file
  * system gives under the same umask. Processes are counted with an
  * in-process JFR recording of `jdk.ProcessStart` events only. */
class LocalFsSpec extends SparkSpec {

  /** `body`'s result and the command lines of the processes it starts. */
  private def processesDuring[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile("graft_processes", ".jfr")
    try {
      rec.dump(f)
      (out, RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def chmodOrReadlink(commands: Seq[String]): Seq[String] =
    commands.filter { c =>
      val exe = c.trim.split("\\s+").head
      Set("chmod", "readlink")(exe.substring(exe.lastIndexOf('/') + 1))
    }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session's file: scheme is the graft classes on both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(spark.sessionState.newHadoopConf()).getClass ===
      classOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ===
      classOf[GraftLocalFs])
    assert(FileContext.getFileContext(URI.create("file:///tmp"), conf)
      .getDefaultFileSystem.getClass === classOf[GraftLocalFs])
  }

  test("a SQL MERGE, a streamed Debezium file and an UPDATE on a 16-bucket " +
      "table start no chmod or readlink process") {
    val table = "local_fs_t"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cents", LongType),
      StructField("note", StringType)))
    val root = Files.createTempDirectory("graft_local_fs")
    val dir = root.resolve("t").toString
    val landing = root.resolve("landing")
    Files.createDirectories(landing)
    def event(op: String, lsn: Long, k: Long): String = {
      def img(c: Long) = s"""{"id":$k,"cents":$c,"note":"n$k"}"""
      val (before, after) =
        if (op == "c") ("null", img(lsn)) else if (op == "u") (img(0), img(lsn))
        else (img(0), "null")
      s"""{"op":"$op","before":$before,"after":$after,""" +
        s""""source":{"table":"t","lsn":$lsn},"ts_ms":$lsn}"""
    }
    var query: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    val (_, started) = processesDuring {
      PartitionedUpsert.init(spark.createDataFrame(
        (0L until 800L).map(k => Row(k, k * 10, s"c$k")).asJava, schema),
        dir, "id", 16)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"CREATE TABLE $table USING graft LOCATION '$dir'")
      query = Some(CdcStream.source(spark, landing.toString, schema)
        .select(col("op"), col("lsn"),
          coalesce(col("after.id"), col("before.id")).as("id"),
          col("after.cents").as("cents"), col("after.note").as("note"))
        .writeStream.format("graft")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .option("opCol", "op").option("lsnCol", "lsn")
        .start(dir))
      query.get.processAllAvailable()
      spark.createDataFrame((0L until 100L).map { i =>
        val k = i * 13 % 1200 // matched and unmatched keys
        Row(k, k + 1, s"m$k", if (i % 9 == 0) "d" else "u")
      }.asJava, StructType(schema.fields :+ StructField("op", StringType)))
        .createOrReplaceTempView("local_fs_src")
      spark.sql(
        s"""MERGE INTO $table AS t USING local_fs_src AS s ON t.id = s.id
           |WHEN MATCHED AND s.op = 'd' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET cents = s.cents, note = s.note
           |WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT (id, cents, note)
           |  VALUES (s.id, s.cents, s.note)""".stripMargin).collect()
      val staged = root.resolve("changes.json")
      Files.write(staged, (0 until 60).map(i =>
        event(Seq("u", "c", "d")(i % 3), 1000L + i, i * 7L % 900)).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      Files.move(staged, landing.resolve("changes.json"), StandardCopyOption.ATOMIC_MOVE)
      query.get.processAllAvailable()
      spark.sql(s"UPDATE $table SET cents = cents + 1 WHERE id BETWEEN 100 AND 199")
        .collect()
    }
    try {
      info(s"${started.size} processes started: ${started.mkString("; ")}")
      assert(spark.table(table).count() > 0)
      assert(chmodOrReadlink(started).isEmpty, started.mkString("; "))
    } finally {
      query.foreach(_.stop())
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("the graft classes give stock LocalFileSystem's mode bits, link " +
      "statuses and missing-path errors under the same umask") {
    val root = Files.createTempDirectory("graft_local_fs_modes")
    def confs(umask: String): (Configuration, Configuration) = {
      val stock = new Configuration()
      stock.set("fs.permissions.umask-mode", umask)
      stock.set("fs.file.impl", classOf[LocalFileSystem].getName)
      stock.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
      val graft = new Configuration(stock)
      graft.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
      graft.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      (stock, graft)
    }
    /** A staged data file, its .crc, a new bucket directory and a
      * published manifest, made the way a graft write makes them. */
    def objects(conf: Configuration, at: JPath): Seq[JPath] = {
      val fs = FileSystem.newInstance(URI.create("file:///"), conf)
      try {
        val d = new Path(at.toUri)
        val out = fs.create(new Path(d, "b=0/part-00000.parquet"), false)
        try out.write(Array.fill[Byte](100)(1)) finally out.close()
        fs.mkdirs(new Path(d, "b=1"))
        AtomicPublish.publishNoOverwrite(fs, new Path(d, "_manifests/v1.manifest"), "m")
      } finally fs.close()
      Seq("b=0/part-00000.parquet", "b=0/.part-00000.parquet.crc", "b=1",
        "_manifests/v1.manifest").map(at.resolve)
    }
    val sessionUmask = spark.sparkContext.hadoopConfiguration
      .get("fs.permissions.umask-mode", "022")
    Seq(sessionUmask, "077").distinct.foreach { umask =>
      val (stockConf, graftConf) = confs(umask)
      val (stock, stockProcs) = processesDuring(objects(stockConf, root.resolve(s"stock$umask")))
      val (graft, graftProcs) = processesDuring(objects(graftConf, root.resolve(s"graft$umask")))
      stock.zip(graft).foreach { case (s, g) =>
        assert(mode(g) === mode(s), s"umask $umask: $g vs $s")
      }
      // the recording sees the stock class's forks; the graft class has none
      assert(chmodOrReadlink(stockProcs).nonEmpty, stockProcs.mkString("; "))
      assert(chmodOrReadlink(graftProcs).isEmpty, graftProcs.mkString("; "))
      if (umask == sessionUmask) {
        // what a graft write through the session leaves has the same modes
        val dir = root.resolve("t")
        PartitionedUpsert.init(spark.range(40).selectExpr("id", "id * 2 AS v"),
          dir.toString, "id", 4)
        val data = Files.walk(dir).iterator.asScala.find(p =>
          p.getFileName.toString.endsWith(".parquet") &&
            !p.getFileName.toString.startsWith(".")).get
        val manifest = Files.list(dir.resolve("_manifests")).iterator.asScala
          .find(_.getFileName.toString.endsWith(".manifest")).get
        val written = Seq(data, data.resolveSibling(s".${data.getFileName}.crc"),
          data.getParent, manifest)
        written.zip(stock).foreach { case (w, s) =>
          assert(mode(w) === mode(s), s"session write: $w vs $s")
        }
      }
    }

    val (stockConf, graftConf) = confs(sessionUmask)
    val plain = root.resolve("plain")
    Files.write(plain, Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(root.resolve("link"), plain)
    val missing = root.resolve("missing")
    def status(s: FileStatus): Seq[Any] =
      Seq(s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else None, s.getLen,
        s.isDirectory, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    val stockFs = FileSystem.newInstance(URI.create("file:///"), stockConf)
    val graftFs = FileSystem.newInstance(URI.create("file:///"), graftConf)
    try Seq[(String, Path => FileStatus, Path => FileStatus)](
      ("FileSystem", stockFs.getFileLinkStatus, graftFs.getFileLinkStatus),
      ("FileContext", FileContext.getFileContext(stockConf).getFileLinkStatus,
        FileContext.getFileContext(graftConf).getFileLinkStatus)
    ).foreach { case (api, stockStatus, graftStatus) =>
      Seq(plain, link).map(p => new Path(p.toUri)).foreach { p =>
        assert(status(graftStatus(p)) === status(stockStatus(p)), s"$api $p")
      }
      val p = new Path(missing.toUri)
      val s = intercept[FileNotFoundException](stockStatus(p))
      val g = intercept[FileNotFoundException](graftStatus(p))
      assert(g.getMessage === s.getMessage, api)
    } finally { stockFs.close(); graftFs.close() }
  }
}
