package graft

import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.streaming.{ForkFreeChecksumFileSystem, LocalCheckpointFs}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `file:` checkpoints through `LocalCheckpointFs`: no process is started
  * per micro-batch, files look exactly as Hadoop's `LocalFs` leaves them,
  * and a query restarts from the state it wrote. */
class LocalCheckpointFsSpec extends SparkSpec {
  import spark.implicits._

  // one update-mode aggregate; each micro-batch's rows land in `out`,
  // later batches overwriting earlier updates of the same key
  private def runBatches(ckpt: String, ms: MemoryStream[(String, Double)],
      batches: Seq[Seq[(String, Double)]],
      out: java.util.Map[String, Double]): Unit = {
    def sink(df: Dataset[Row], id: Long): Unit =
      df.collect().foreach(r => out.put(r.getString(0), r.getDouble(1)))
    val q = ms.toDS().toDF("k", "v").groupBy("k").avg("v")
      .writeStream.outputMode("update").option("checkpointLocation", ckpt)
      .foreachBatch(sink _).start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  private def batch(i: Int): Seq[(String, Double)] =
    Seq(("a", i.toDouble), ("b", 10.0 * i), ("a", i + 0.5))

  test("the engine's sessions resolve file: to LocalCheckpointFs") {
    val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalCheckpointFs])
  }

  /** The commands of the processes `body` started through Hadoop's
    * filesystems or the streaming engine, each with its stack. Other
    * threads may start processes in the same window (the JVM's first
    * executor heartbeat runs `getconf PAGESIZE`; other suites' sessions
    * clean up their artifacts with `rm -rf`); they do not count. */
  private def processesStarted(body: => Unit): Seq[(String, Seq[String])] = {
    val jfr = Files.createTempFile("graft_ckfs", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body
    finally { rec.stop(); rec.dump(jfr); rec.close() }
    val sources = Seq("org.apache.hadoop.fs.", "org.apache.spark.sql.execution.streaming.")
    RecordingFile.readAllEvents(jfr).asScala.toSeq
      .map(e => e.getString("command") -> e.getStackTrace.getFrames.asScala.toSeq
        .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName))
      .filter { case (_, frames) => frames.exists(f => sources.exists(f.startsWith)) }
  }

  private def assertNone(started: Seq[(String, Seq[String])]): Unit =
    assert(started.isEmpty, s"${started.size} started, first: " +
      started.headOption.map { case (cmd, frames) => cmd + " from " + frames.take(16).mkString(" < ") })

  test("five checkpointed micro-batches start no process") {
    implicit val ctx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_ckfs").toString
    assertNone(processesStarted(runBatches(ckpt, MemoryStream[(String, Double)],
      (1 to 5).map(batch), new java.util.concurrent.ConcurrentHashMap[String, Double]())))
    // the checkpoint really was written, with Hadoop's checksum companions
    assert(Files.exists(java.nio.file.Paths.get(ckpt, "commits", "4")))
    assert(Files.exists(java.nio.file.Paths.get(ckpt, "commits", ".4.crc")))
  }

  test("a parquet write goes through the fork-free FileSystem, starts no process, keeps .crc files") {
    val out = Files.createTempDirectory("graft_ckfs_parquet").resolve("t")
    val df = spark.range(0, 1000, 1, 4).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v")
    assertNone(processesStarted(df.write.parquet(out.toString)))
    assert(FileSystem.get(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
      .isInstanceOf[ForkFreeChecksumFileSystem])
    val names = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.nonEmpty, names)
    parts.foreach(p => assert(names.contains("." + p + ".crc"), names))
    assert(names.contains("_SUCCESS") && names.contains("._SUCCESS.crc"), names)
    assert(spark.read.parquet(out.toString).orderBy("id").as[(Long, Double)].collect().toSeq ==
      (0L until 1000L).map(i => (i, i * 2.0)))
  }

  /** One FileContext over stock `LocalFs` and one over `LocalCheckpointFs`,
    * both with umask 027 so a mode set after create is visible. */
  private def contexts(): Seq[(String, FileContext)] = {
    def conf(impl: Option[String]) = {
      val c = new Configuration()
      c.set("fs.permissions.umask-mode", "027")
      impl.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
      c
    }
    Seq(
      "stock" -> FileContext.getFileContext(conf(None)),
      "fork-free" -> FileContext.getFileContext(conf(Some(classOf[LocalCheckpointFs].getName))))
  }

  private def write(fc: FileContext, p: Path, body: String): Unit = {
    val os = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try os.write(body.getBytes("UTF-8")) finally os.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val is = fc.open(p)
    try new String(is.readAllBytes(), "UTF-8") finally is.close()
  }

  private def unixMode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("file semantics match Hadoop's LocalFs") {
    val linkStatus = contexts().map { case (name, fc) =>
      assert(fc.getDefaultFileSystem.isInstanceOf[LocalCheckpointFs] == (name == "fork-free"))
      val dir = Files.createTempDirectory("graft_ckfs_" + name)
      def hp(f: String) = new Path(dir.resolve(f).toUri)

      // create: the umask'd mode, and a .crc companion
      write(fc, hp("a"), "first")
      assert(unixMode(dir.resolve("a")) == Integer.parseInt("640", 8), name)
      assert(Files.exists(dir.resolve(".a.crc")), name)

      // rename(OVERWRITE) replaces the target and its checksum: the read
      // verifies the moved bytes against the moved .crc
      write(fc, hp("b"), "a longer second body")
      val crcOfA = Files.readAllBytes(dir.resolve(".a.crc")).toSeq
      fc.rename(hp("a"), hp("b"), Options.Rename.OVERWRITE)
      assert(read(fc, hp("b")) == "first", name)
      assert(Files.readAllBytes(dir.resolve(".b.crc")).toSeq == crcOfA, name)
      assert(!Files.exists(dir.resolve("a")) && !Files.exists(dir.resolve(".a.crc")), name)

      // mkdir gets the umask'd mode; a sticky mode is not a plain rwx mode
      // and goes through the fallback
      val sticky = dir.resolve("sticky")
      fc.mkdir(new Path(sticky.toUri), FsPermission.getDirDefault, false)
      assert(unixMode(sticky) == Integer.parseInt("750", 8), name)
      fc.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
      assert(unixMode(sticky) == Integer.parseInt("1777", 8), name)

      // link status of a symlink, a plain file and a dangling symlink
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("b"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("missing"))
      Seq("link", "b", "dangling").map { f =>
        f -> Try(fc.getFileLinkStatus(hp(f))).map(s =>
          (s.isSymlink, s.isFile, s.isDirectory, s.getLen,
            if (s.isSymlink) s.getSymlink.toUri.getPath.stripPrefix(dir.toString) else "")
        ).toEither.left.map(_.getClass.getName)
      }
    }
    assert(linkStatus(0) == linkStatus(1))
  }

  test("a restart from the checkpoint yields the uninterrupted run's aggregates") {
    implicit val ctx = spark.sqlContext
    val all = (1 to 4).map(batch)
    val straight = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    runBatches(Files.createTempDirectory("graft_ckfs_straight").toString,
      MemoryStream[(String, Double)], all, straight)

    val ckpt = Files.createTempDirectory("graft_ckfs_restart").toString
    val restarted = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    runBatches(ckpt, MemoryStream[(String, Double)], all.take(2), restarted)
    // a fresh source re-defines the committed offsets, then the query
    // resumes from the checkpoint with the remaining batches
    val ms = MemoryStream[(String, Double)]
    all.take(2).foreach(ms.addData(_))
    runBatches(ckpt, ms, all.drop(2), restarted)

    val expected = all.flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum / vs.size }
    assert(straight.asScala.toMap == expected)
    assert(restarted.asScala.toMap == expected)
  }
}
