package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog

import graft.model.{Format, KafkaRecord, PartitionerKind, SinkConfig}
import graft.sinks.{FileSink, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The session's `file:` filesystem ([[graft.sinks.NioLocalFileSystem]] and
  * [[graft.sinks.NioLocalFs]]): same bytes, bits and link answers as Hadoop's
  * stock local FS, and no child process on the checkpoint or sink path.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val fileUri = new URI("file:///")

  /** The session's Hadoop conf, or the same with Hadoop's stock classes. */
  private def hadoopConf(stock: Boolean, umask: String = "022"): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    if (stock) {
      c.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
      c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    }
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def octal(s: String) = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(octal(s).toShort)

  /** Full permission bits (setuid, setgid and sticky included) of `p`. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")
  private def setMode(p: JPath, m: Int): Unit = Files.setAttribute(p, "unix:mode", Int.box(m))

  /** Relative path → octal mode of every file and directory under `root`. */
  private def modes(root: JPath): Map[String, String] =
    Files.walk(root).iterator.asScala.filter(_ != root).map(p =>
      root.relativize(p).toString -> Integer.toOctalString(mode(p))).toMap

  /** Creates, mkdirs and chmods through both Hadoop APIs under `root`. */
  private def exercise(conf: Configuration, root: JPath): Unit = {
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    val fs = FileSystem.newInstance(fileUri, conf)
    val fc = FileContext.getFileContext(fileUri, conf)
    val create = EnumSet.of(CreateFlag.CREATE)
    try {
      fs.mkdirs(p("fs/dir"))
      fs.mkdirs(p("fs/dir750"), perm("750"))
      fs.create(p("fs/dir/file")).close()
      fs.create(p("fs/file640"), perm("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(p("fs/file604")).close()
      fs.setPermission(p("fs/file604"), perm("604"))
      fs.mkdirs(p("fs/sticky"))
      fs.setPermission(p("fs/sticky"), perm("1777"))
      // a 4-digit chmod keeps a directory's setuid/setgid bits, clears a file's
      fs.mkdirs(p("fs/setid-dir"))
      setMode(root.resolve("fs/setid-dir"), octal("6755"))
      fs.setPermission(p("fs/setid-dir"), perm("750"))
      fs.create(p("fs/setid-file")).close()
      setMode(root.resolve("fs/setid-file"), octal("6755"))
      fs.setPermission(p("fs/setid-file"), perm("640"))
      fc.mkdir(p("fc/dir"), FsPermission.getDirDefault, true)
      fc.mkdir(p("fc/dir750"), perm("750"), true)
      fc.create(p("fc/dir/file"), create).close()
      fc.create(p("fc/file640"), create, Options.CreateOpts.perms(perm("640"))).close()
      fc.create(p("fc/file604"), create).close()
      fc.setPermission(p("fc/file604"), perm("604"))
    } finally fs.close()
  }

  test("files and directories get stock Hadoop's permission bits under the same umask") {
    for (umask <- Seq("022", "077"); setgidRoot <- Seq(false, true)) {
      val roots @ Seq(stockRoot, nioRoot) =
        Seq("graft-fs-stock", "graft-fs-nio").map(Files.createTempDirectory(_))
      // a group-shared root: directories made below inherit setgid
      if (setgidRoot) roots.foreach(r => setMode(r, mode(r) | octal("2000")))
      exercise(hadoopConf(stock = true, umask), stockRoot)
      exercise(hadoopConf(stock = false, umask), nioRoot)
      val (stock, nio) = (modes(stockRoot), modes(nioRoot))
      val clue = s"umask $umask, setgid root $setgidRoot"
      assert(stock.keys.exists(_.endsWith(".crc")), stock)
      assert(nio == stock, clue)
      val setgid = if (setgidRoot) octal("2000") else 0
      assert(mode(nioRoot.resolve("fs/sticky")) == (octal("1777") | setgid), clue)
      assert(mode(nioRoot.resolve("fc/dir")) == (octal("777") & ~octal(umask) | setgid), clue)
      assert(mode(nioRoot.resolve("fs/setid-dir")) == octal("6750"), clue)
      assert(mode(nioRoot.resolve("fs/setid-file")) == octal("640"), clue)
    }
  }

  test("getFileLinkStatus still reports a real symlink and its target") {
    val dir = Files.createTempDirectory("graft-fs-link")
    val target = Files.write(dir.resolve("target"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    def summary(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.getLen, s.isSymlink,
        if (s.isSymlink) Some(s.getSymlink) else None)
    def statuses(conf: Configuration) = {
      val fs = FileSystem.newInstance(fileUri, conf)
      val fc = FileContext.getFileContext(fileUri, conf)
      try Seq(dir, target, link).flatMap { p =>
        val unqualified = new Path(p.toString)
        Seq(fs.getFileLinkStatus(unqualified), fs.getFileLinkStatus(new Path(p.toUri)),
          fc.getFileLinkStatus(unqualified)).map(summary)
      } finally fs.close()
    }
    val nioFs = FileSystem.newInstance(fileUri, hadoopConf(stock = false))
    try {
      val st = nioFs.getFileLinkStatus(new Path(link.toString))
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath == target.toString)
    } finally nioFs.close()
    val fc = FileContext.getFileContext(fileUri, hadoopConf(stock = false))
    assert(fc.getLinkTarget(new Path(link.toString)).toUri.getPath == target.toString)
    assert(statuses(hadoopConf(stock = false)) == statuses(hadoopConf(stock = true)))
  }

  test("the session's Hadoop conf resolves file: to the in-process classes on both APIs") {
    assert(GraftSession.localFsConf.map(_._1).toSet ==
      Set("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl"))
    // the builder every graft session comes from carries both entries
    val builder = GraftSession.builder()
    val options = builder.getClass.getMethod("options").invoke(builder)
      .asInstanceOf[scala.collection.Map[String, String]]
    GraftSession.localFsConf.foreach { case (k, v) => assert(options.get(k).contains(v), k) }
    // and this session (SparkSpec, configured from the same entries) runs on them
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.newInstance(fileUri, conf)
    try {
      assert(fs.getClass == classOf[NioLocalFileSystem])
      assert(fs.asInstanceOf[NioLocalFileSystem].getRawFileSystem.getClass ==
        classOf[NioRawLocalFileSystem])
    } finally fs.close()
    assert(AbstractFileSystem.get(fileUri, conf).getClass == classOf[NioLocalFs])
    assert(AbstractFileSystem.get(fileUri, spark.sessionState.newHadoopConf()).getClass ==
      classOf[NioLocalFs])
  }

  test("a checkpoint log write and a time-partitioned parquet batch start no process") {
    val ckpt = Files.createTempDirectory("graft-fs-log").toString
    val root = Files.createTempDirectory("graft-fs-sink").toString
    val log = new HDFSMetadataLog[String](spark, ckpt)
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Time)
    def batch(id: Long): Unit = {
      assert(log.add(id, s"batch-$id"))
      FileSink.writeBatch((0 until 100).map(i => KafkaRecord("t", i % 4, id * 100 + i,
        new Timestamp(1700000000000L + i * 60000L), s"k$i".getBytes("UTF-8"),
        s"""{"i":$i}""".getBytes("UTF-8"), Map.empty)).toDF(), cfg, root)
      ()
    }
    batch(0) // class loading and first-use setup stay outside the recording
    val recording = new Recording()
    val dump = Files.createTempFile("graft-fs", ".jfr")
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      batch(1)
      recording.stop()
      recording.dump(dump)
    } finally recording.close()
    val launches = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    assert(launches.isEmpty, launches.mkString("; "))
    assert(spark.read.parquet(root).count() == 200)
  }
}
