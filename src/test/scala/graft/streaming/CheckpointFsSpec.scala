package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.sources.GraftEventsBroker

/** [[ForkFreeLocalFs]], the checkpoint file system of a
  * [[StreamingConf.applyTo]] session: the same files, modes and link
  * answers as Hadoop's stock `LocalFs`, checkpoints that move between the
  * two both ways, and no child process over a whole query lifecycle. */
class CheckpointFsSpec extends SparkSpec {
  private val localUri = URI.create("file:///")

  private def hadoopConf(forkFree: Boolean): Configuration = {
    val c = new Configuration()
    if (forkFree) StreamingConf.checkpointFs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def mode(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Relative path -> POSIX mode of everything under `root`. */
  private def tree(root: NioPath): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap

  test("file systems: create and mkdir modes, .crc files and overwriting " +
      "renames match Hadoop's LocalFs and LocalFileSystem") {
    // Hadoop's umask (fs.permissions.umask-mode, 022) applied, as its
    // chmod sets it
    val umask = FsPermission.getUMask(hadoopConf(forkFree = true))
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    assert((fileMode, dirMode) == (("rw-r--r--", "rwxr-xr-x")))
    val root = Files.createTempDirectory("graft_ckfs_ops")
    val trees = Seq(false, true).map { forkFree =>
      val fc = FileContext.getFileContext(localUri, hadoopConf(forkFree))
      assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs] == forkFree)
      val base = root.resolve(if (forkFree) "fork_free" else "stock")
      val dir = new Path(base.resolve("a/b").toString)
      fc.mkdir(dir, FsPermission.getDirDefault, true)
      write(fc, new Path(dir, "src"), "new")
      write(fc, new Path(dir, "dst"), "old")
      fc.rename(new Path(dir, "src"), new Path(dir, "dst"), Options.Rename.OVERWRITE)
      assert(read(fc, new Path(dir, "dst")) == "new") // checksum verified
      // the FileSystem API (uncached when fork-free, the JVM's own if not)
      val fs = FileSystem.get(localUri, hadoopConf(forkFree))
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem] == forkFree)
      val fsDir = new Path(base.resolve("c/d").toString)
      fs.mkdirs(fsDir)
      val out = fs.create(new Path(fsDir, "f"))
      try out.write(1) finally out.close()
      tree(base)
    }
    val Seq(stock, forkFree) = trees
    assert(forkFree == stock)
    assert(forkFree == Map(
      "a" -> dirMode, "a/b" -> dirMode,
      "a/b/dst" -> fileMode, "a/b/.dst.crc" -> fileMode,
      "c" -> dirMode, "c/d" -> dirMode,
      "c/d/f" -> fileMode, "c/d/.f.crc" -> fileMode))

    // a mode java.nio cannot set takes Hadoop's chmod
    val fc = FileContext.getFileContext(localUri, hadoopConf(forkFree = true))
    val sticky = new Path(root.resolve("fork_free/a").toString)
    fc.setPermission(sticky, new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert((Files.getAttribute(root.resolve("fork_free/a"), "unix:mode")
      .asInstanceOf[Int] & Integer.parseInt("7777", 8)) == Integer.parseInt("1755", 8))
    intercept[FileNotFoundException](
      fc.setPermission(new Path(root.resolve("missing").toString),
        FsPermission.getFileDefault))
  }

  test("file system: getFileLinkStatus and getLinkTarget on a file, a " +
      "symlink, a dangling link and a missing path match Hadoop's LocalFs") {
    val root = Files.createTempDirectory("graft_ckfs_links")
    Files.write(root.resolve("file"), "abc".getBytes(UTF_8))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val paths @ Seq(file, _, _, missing) =
      Seq("file", "link", "dangling", "missing")
        .map(n => new Path(root.resolve(n).toString))
    def view(fs: AbstractFileSystem, p: Path) =
      try {
        val s = fs.getFileLinkStatus(p)
        val target = if (s.isSymlink) Some(fs.getLinkTarget(p)) else None
        Right((s.isFile, s.isDirectory, s.isSymlink, s.getLen,
          if (s.isSymlink) Some(s.getSymlink) else None, target))
      } catch { case e: IOException => Left(e.getClass) }
    val Seq(stock, forkFree) = Seq(false, true).map { ff =>
      val fs = AbstractFileSystem.get(localUri, hadoopConf(ff))
      assert(fs.isInstanceOf[ForkFreeLocalFs] == ff && fs.isInstanceOf[LocalFs] != ff)
      paths.map(view(fs, _))
    }
    assert(forkFree == stock)
    val Seq(vFile, vLink, vDangling, vMissing) = forkFree
    assert(vFile == Right((true, false, false, 3L, None, None)))
    val linkTarget = Some(new Path(root.resolve("file").toString))
    assert(vLink == Right((false, false, true, 3L, linkTarget, linkTarget)))
    val goneTarget = Some(new Path(root.resolve("gone").toString))
    assert(vDangling == Right((false, false, true, 0L, goneTarget, goneTarget)))
    assert(vMissing == Left(classOf[FileNotFoundException]))

    val fs = AbstractFileSystem.get(localUri, hadoopConf(forkFree = true))
    assert(intercept[IOException](fs.getLinkTarget(file)).getMessage
      .contains("not a symbolic link"))
    intercept[FileNotFoundException](fs.getLinkTarget(missing))
  }

  // -- query lifecycles -------------------------------------------------

  private val fields =
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"

  /** An `applyTo` session, with or without the checkpoint file system. */
  private def session(forkFree: Boolean): SparkSession = {
    val s = spark.newSession()
    StreamingConf.applyTo(s)
    if (!forkFree) StreamingConf.checkpointFs.keys.foreach(s.conf.unset)
    val fs = AbstractFileSystem.get(localUri, s.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[ForkFreeLocalFs] == forkFree)
    s
  }

  /** The fixture's events in ts order as five graft-events payload chunks. */
  private lazy val chunks: Seq[Seq[String]] = {
    val evs = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").as(Encoders.product[CepEvent]).collect()
    evs.toSeq.map(e => s"${e.event_id},${e.ts},${e.user_id},${e.event_type},${e.value}")
      .grouped((evs.length + 4) / 5).toSeq
  }

  /** What the two queries of [[lifecycle]] must end with. */
  private lazy val truth: (Map[Seq[Any], Long], Set[Seq[Any]]) = {
    val counts = Tables.table(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
      .collect().map(r => r.toSeq.init -> r.getLong(2)).toMap
    val matches = graft.SparkEntry.queries("q_cep_seq")(spark, sf)
      .collect().map(_.toSeq).toSet
    (counts, matches)
  }

  private case class Run(counts: Map[Seq[Any], Long], matches: Set[Seq[Any]],
      afterFirst: Set[String], afterSecond: Set[String])

  /** A streaming aggregation and a transformWithState detector over one
    * graft-events topic: started on `first` for three appends (a
    * micro-batch or more each), then stopped and restarted from the same
    * checkpoints on `second` for two more. Returns both sinks' final output and the checkpoint file names
    * after each half. */
  private def lifecycle(first: SparkSession, second: SparkSession): Run = {
    val topic = s"ckfs_${System.nanoTime()}"
    val ckpt = Files.createTempDirectory("graft_ckfs_ckpt")
    val counts = new java.util.concurrent.ConcurrentHashMap[Seq[Any], Long]()
    val matches = new ConcurrentLinkedQueue[Seq[Any]]()
    def start(s: SparkSession) = {
      val src = s.readStream.format("graft-events").option("topic", topic)
        .option("fields", fields).load()
      val agg = src.withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.resolve("agg").toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => counts.put(r.toSeq.init, r.getLong(2)))
        }.start()
      val tws = CepSequenceTws.detect(src.as(Encoders.product[CepEvent]),
          "signup", "purchase", 30L * 60 * 1000, "10 minutes").toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.resolve("tws").toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => matches.add(r.toSeq))
        }.start()
      Seq(agg, tws)
    }
    def feed(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery],
        cs: Seq[Seq[String]]): Unit = {
      try cs.foreach { c =>
        GraftEventsBroker.append(topic, c: _*)
        qs.foreach(_.processAllAvailable())
      } finally qs.foreach(_.stop())
      qs.foreach(q => assert(q.exception.isEmpty, q.exception))
    }
    def files(): Set[String] = Files.walk(ckpt).iterator().asScala
      .filter(Files.isRegularFile(_)).map(ckpt.relativize(_).toString).toSet
    try {
      feed(start(first), chunks.take(3))
      val afterFirst = files()
      feed(start(second), chunks.drop(3))
      Run(counts.asScala.toMap, matches.asScala.toSet, afterFirst, files())
    } finally GraftEventsBroker.clear(topic)
  }

  private def assertTruth(run: Run): Unit = {
    assert(run.counts == truth._1, "windowed counts must equal batch")
    assert(run.matches == truth._2 && run.matches.nonEmpty,
      "detector matches must equal q_cep_seq")
  }

  test("checkpoints move between the fork-free and the stock file system " +
      "both ways, with the same sink output and the same files on disk") {
    val (forkFree, stock) = (session(forkFree = true), session(forkFree = false))
    val there = lifecycle(forkFree, stock)
    val back = lifecycle(stock, forkFree)
    assertTruth(there)
    assertTruth(back)
    // Which micro-batches run without data (timers, watermark), and when
    // RocksDB's maintenance thread uploads a snapshot (N.zip and SSTs/),
    // depend on timing, so runs are compared by kind of file: numbers and
    // UUIDs masked, snapshot uploads left out. Every file, snapshots
    // included, must have its Hadoop .crc beside it.
    def kinds(files: Set[String]) = files
      .filterNot(f => f.contains("/SSTs/") || f.contains(".zip"))
      .map(_.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U")
        .replaceAll("[0-9]+", "N"))
    def withoutCrc(files: Set[String]) = files
      .filterNot(_.split('/').last.startsWith("."))
      .filterNot { f =>
        val (dir, name) = f.splitAt(f.lastIndexOf('/') + 1)
        files(s"$dir.$name.crc")
      }
    for (files <- Seq(there.afterFirst, there.afterSecond, back.afterFirst,
        back.afterSecond))
      assert(withoutCrc(files).isEmpty, "files without a .crc")
    assert(kinds(there.afterFirst) == kinds(back.afterFirst),
      "files written by the fork-free vs the stock file system")
    assert(kinds(there.afterSecond) == kinds(back.afterSecond))
    assert(kinds(there.afterSecond).exists(_.endsWith(".changelog.crc")),
      "Spark's checkpoint checksum files are written")
  }

  test("a query lifecycle on an applyTo session starts no Hadoop shell " +
      "process") {
    val s = session(forkFree = true)
    chunks; truth // read the fixture before recording
    // state stores that earlier queries left loaded (the stock-session
    // halves above, among them) upload snapshots from the maintenance
    // thread whenever it gets to them: unload them so that every store
    // loaded during the recording is one of this lifecycle's
    StateStore.stop()
    val starts = new ConcurrentLinkedQueue[RecordedEvent]()
    val marker = s"graft-no-spawn-${System.nanoTime()}"
    val rs = new RecordingStream()
    val run =
      try {
        rs.enable("jdk.ProcessStart").withStackTrace()
        rs.onEvent("jdk.ProcessStart", e => starts.add(e))
        rs.startAsync()
        val run = lifecycle(s, s)
        // a process of our own, after the lifecycle: once its event is
        // delivered, every earlier one is, and the recording is shown to
        // see process starts at all
        new ProcessBuilder("true", marker).start().waitFor()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!starts.asScala.exists(_.getString("command").contains(marker)) &&
            System.nanoTime() < deadline) Thread.sleep(100)
        run
      } finally rs.close()
    assertTruth(run)
    assert(starts.asScala.exists(_.getString("command").contains(marker)),
      "the recording never delivered the marker process")
    val shell = starts.asScala.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(shell.isEmpty, s"${shell.size} Hadoop shell processes, e.g. " +
      shell.take(3).map(e => e.getString("command") + " from " +
        e.getStackTrace.getFrames.asScala.map(f =>
          f.getMethod.getType.getName + "." + f.getMethod.getName).mkString(" < ")
      ).mkString("; "))
  }
}
