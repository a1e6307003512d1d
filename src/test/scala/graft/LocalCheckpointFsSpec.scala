package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{AbstractFileContextBasedCheckpointFileManager, CheckpointFileManager}

import graft.streaming.{HotMediaTrackJob, StreamingSmoke}

/** [[LocalCheckpointFs]] against stock Hadoop `LocalFs`, both reached the
  * way Spark reaches them: `CheckpointFileManager.create(dir, conf)`. Each
  * manager's FileContext is checked to resolve to the filesystem under
  * test, so no comparison can pass against the same implementation. */
class LocalCheckpointFsSpec extends SparkSuite {

  private def conf(nio: Boolean): Configuration = {
    val c = new Configuration()
    if (nio) c.set(LocalCheckpointFs.ConfKey, classOf[LocalCheckpointFs].getName)
    c
  }

  /** A checkpoint manager over a fresh temp dir and its FileContext. */
  private def manager(nio: Boolean, hadoopConf: Option[Configuration] = None)
      : (CheckpointFileManager, FileContext, JPath) = {
    val dir = Files.createTempDirectory(if (nio) "graft_ckfs_nio" else "graft_ckfs_stock")
    val fm = CheckpointFileManager.create(new Path(dir.toUri), hadoopConf.getOrElse(conf(nio)))
    // `fc` is Scala-protected, public in bytecode
    val fc = classOf[AbstractFileContextBasedCheckpointFileManager].getMethod("fc")
      .invoke(fm).asInstanceOf[FileContext]
    val fs = fc.getDefaultFileSystem
    if (nio) assert(fs.isInstanceOf[LocalCheckpointFs], s"resolved to ${fs.getClass}")
    else assert(fs.isInstanceOf[LocalFs], s"resolved to ${fs.getClass}")
    (fm, fc, dir)
  }

  private def write(fm: CheckpointFileManager, p: JPath, body: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(new Path(p.toUri), overwrite)
    out.write(body.getBytes)
    out.close()
  }

  /** Permission bits incl. setuid/setgid/sticky (mode & 07777). */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def listing(dir: JPath): Set[String] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName.toString).toSet)

  test("Engine.tune routes a session's checkpoint FileContext to LocalCheckpointFs") {
    manager(nio = true, Some(Engine.tune(spark.newSession()).sessionState.newHadoopConf()))
  }

  test("atomic writes: no-overwrite rename refuses, overwrite replaces, .crc travels") {
    val seen = Seq(false, true).map { nio =>
      val (fm, fc, dir) = manager(nio)
      val f = dir.resolve("1")
      write(fm, f, "first")
      assert(listing(dir) == Set("1", ".1.crc"), s"nio=$nio")
      intercept[FileAlreadyExistsException](write(fm, f, "second"))
      assert(new String(Files.readAllBytes(f)) == "first")
      write(fm, f, "third!", overwrite = true)
      assert(new String(Files.readAllBytes(f)) == "third!")
      // the sidecar moved with the data: it verifies the new bytes and
      // rejects a corrupted copy (`open(path, bufferSize)` is ChecksumFs's
      // verifying read; FilterFs.open(path), which Spark uses, skips it)
      def read() = {
        val in = fc.open(new Path(f.toUri), 4096)
        try new String(in.readAllBytes()) finally in.close()
      }
      assert(read() == "third!")
      Files.write(f, "thirdX".getBytes)
      intercept[ChecksumException](read())
      // the refused write leaves its temp file (and sidecar) behind on both
      nio -> listing(dir).map(_.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>"))
    }.toMap
    assert(seen(true) == seen(false), s"leftovers differ: $seen")
  }

  test("link status and permission bits equal stock LocalFs") {
    def probe(nio: Boolean) = {
      val (fm, fc, dir) = manager(nio)
      val f = dir.resolve("data")
      write(fm, f, "x")
      fm.mkdirs(new Path(dir.resolve("a/b").toUri))
      Files.createSymbolicLink(dir.resolve("link"), f)
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      val sticky = new Path(dir.resolve("sticky").toUri)
      fc.mkdir(sticky, FsPermission.getDirDefault, false)
      fc.setPermission(sticky, new FsPermission("1777"))
      fc.setPermission(new Path(f.toUri), new FsPermission("640"))
      // each name as a qualified `file:` path (what Spark passes) and bare
      val status = Seq("data", "link", "dangling", "a", "missing").flatMap { n =>
        Seq(s"file:$n" -> new Path(dir.resolve(n).toUri), n -> new Path(dir.resolve(n).toString))
      }.map { case (k, p) =>
        k -> scala.util.Try(fc.getFileLinkStatus(p)).fold(
          _.getClass.getSimpleName,
          s => Seq(s.isSymlink, if (s.isSymlink) s.getSymlink.toUri.getPath else "",
            s.isDirectory, s.getLen, s.getPermission, s.getOwner, s.getGroup)
            .mkString(",").replace(dir.toString, "<dir>"))
      }.toMap
      val modes = Seq("data", ".data.crc", "a", "a/b", "sticky").map(n => n -> mode(dir.resolve(n)))
      (status, modes.toMap)
    }
    val (stockStatus, stockModes) = probe(nio = false)
    val (nioStatus, nioModes) = probe(nio = true)
    assert(nioStatus == stockStatus)
    assert(nioModes == stockModes)
    // Hadoop's non-native link check runs `readlink` on the path string: it
    // finds a link behind a bare path but never behind "file:/...", where a
    // link reports its target and a dangling one is missing
    assert(nioStatus("link").startsWith("true,<dir>/data,"), nioStatus)
    assert(nioStatus("dangling").startsWith("true,<dir>/gone,"), nioStatus)
    assert(nioStatus("file:link") == nioStatus("file:data") && nioStatus("file:data").startsWith("false,"))
    assert(nioStatus("file:dangling") == "FileNotFoundException")
    assert(nioStatus("missing") == "FileNotFoundException" && nioStatus("file:missing") == nioStatus("missing"))
    assert(nioModes("sticky") == Integer.parseInt("1777", 8) && nioModes("data") == Integer.parseInt("640", 8))
  }

  test("checkpoint writes fork no process; stock LocalFs does (JFR jdk.ProcessStart)") {
    def forks(nio: Boolean): Long = {
      val (fm, _, dir) = manager(nio)
      write(fm, dir.resolve("warm"), "w") // class init (Hadoop's Shell) forks once per JVM
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      (0 until 20).foreach(i => write(fm, dir.resolve(i.toString), s"batch $i"))
      rec.stop()
      val dump = Files.createTempFile("graft_forks", ".jfr")
      rec.dump(dump)
      rec.close()
      // this thread only: other suites' sessions may run `rm` in the background
      val me = Thread.currentThread.getId
      try RecordingFile.readAllEvents(dump).asScala.count(e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
          Option(e.getThread).exists(_.getJavaThreadId == me))
      finally Files.delete(dump)
    }
    val stock = forks(nio = false)
    assert(stock > 0, "control: stock LocalFs should fork readlink/chmod without libhadoop")
    assert(forks(nio = true) == 0)
  }

  test("Job A restart under LocalCheckpointFs equals an uninterrupted run") {
    val s = Engine.tune(spark.newSession())
    import s.implicits._
    val url = s"jdbc:derby:${Files.createTempDirectory("graft_ckfs_derby")}/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    def wire(appid: String, typ: Int, sec: Long): String =
      s"""{"appid":"$appid","event_type":$typ,"timestamp":$sec,"log_time":${sec * 1000}}"""
    // event seconds. A row is late when its window ended at or before the
    // previous batch's watermark: the 15 s row, which the restarted query
    // drops only if it restored the watermark. 45 s and 70 s extend
    // windows held in restored state.
    val files = Seq(
      Seq(wire("a1", 1, 10), wire("a1", 1, 20), wire("a2", 2, 40)),
      Seq(wire("a1", 1, 35), wire("a2", 2, 55)),
      Seq(wire("a1", 1, 65), wire("a1", 1, 70), wire("a2", 2, 80), wire("a1", 1, 45),
        wire("a1", 1, 15)),
      Seq(wire("a1", 1, 95), wire("a9", 3, 125), wire("a2", 2, 70)))
    def publish(dir: JPath, i: Int): Unit = {
      val f = Files.write(dir.resolve(s"f$i.json"), files(i).mkString("\n").getBytes)
      Files.setLastModifiedTime(f, FileTime.fromMillis(1700000000000L + i * 1000L)) // file order
    }
    def run(dir: JPath, ckpt: JPath, table: String) = {
      val q = HotMediaTrackJob.jdbcSink(HotMediaTrackJob.pipeline(
          s.readStream.option("maxFilesPerTrigger", "1").text(dir.toString)), url, table, props)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
      q
    }
    def table(name: String) = s.read.jdbc(url, name, props)
      .select("time", "appid", "type", "count", "batch_id")
      .as[(Timestamp, String, Int, Long, Long)].collect().toSeq

    val whole = Files.createTempDirectory("graft_ckfs_whole")
    files.indices.foreach(publish(whole, _))
    run(whole, Files.createTempDirectory("graft_ckfs_whole_ckpt"), "media_whole")

    val split = Files.createTempDirectory("graft_ckfs_split")
    val ckpt = Files.createTempDirectory("graft_ckfs_split_ckpt")
    Seq(0, 1).foreach(publish(split, _))
    run(split, ckpt, "media_split")
    // drop the last commit (and its sidecar): the restart re-runs that
    // batch, as after a crash between the sink write and the commit log
    val commits = ckpt.resolve("commits")
    val last = listing(commits).filter(_.forall(_.isDigit)).map(_.toLong).max
    listing(commits).filter(n => n == s"$last" || n.startsWith(s"$last.") || n.startsWith(s".$last."))
      .foreach(n => Files.delete(commits.resolve(n)))
    Seq(2, 3).foreach(publish(split, _))
    val restarted = run(split, ckpt, "media_split")
    val progress = restarted.recentProgress
    assert(progress.map(_.batchId).contains(last), "restart must replay the uncommitted batch")
    assert(progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum == 1)
    val line = StreamingSmoke.progressLine(restarted)
    assert(line.startsWith("[stream] {") && line.contains("\"state_commit_ms\":"), line)

    val (w, sp) = (table("media_whole"), table("media_split"))
    def rows(t: Seq[(Timestamp, String, Int, Long, Long)]) = t.map(r => (r._1, r._2, r._3, r._4))
    assert(rows(sp).sortBy(_.toString) == rows(w).sortBy(_.toString), s"split=$sp\nwhole=$w")
    assert(sp.map(r => (r._1, r._2, r._3)).distinct.size == sp.size,
      s"a window (or the replayed batch) was written twice: $sp")
    // 30 s windows closed by the final watermark (125 s); late rows dropped
    assert(rows(w).map(r => (r._1.getTime / 1000, r._2, r._4)).toSet == Set(
      (30L, "a1", 2L), (60L, "a1", 2L), (60L, "a2", 2L),
      (90L, "a1", 2L), (90L, "a2", 2L), (120L, "a1", 1L)), w)
  }
}
