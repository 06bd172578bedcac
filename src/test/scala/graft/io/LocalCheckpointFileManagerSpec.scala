package graft.io

import java.io.{File, RandomAccessFile}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.apps.Mains
import graft.streaming.EpochStore
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.IOUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** [[LocalCheckpointFileManager]]: local checkpoints fork no process and keep
  * every integrity property of Spark's default manager; other schemes get
  * the default manager; every query binding names it on the session
  * ([[Io.prepareStreaming]]). */
class LocalCheckpointFileManagerSpec extends SparkSuite {

  private def manager(dir: String) = new LocalCheckpointFileManager(new Path(dir), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, body: String, overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  private def bytes(f: File): Seq[Byte] = Files.readAllBytes(f.toPath).toSeq
  private def crc(dir: String, name: String) = new File(dir, s".$name.crc")
  private def listing(dir: String): Seq[String] = new File(dir).list().toSeq.sorted

  /** The command lines of the processes `body` starts that name a path under
    * `dir`, recorded in-process with JFR's `jdk.ProcessStart`. */
  private def forksUnder(dir: String)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      body
      // a fork known to name `dir`: proves the recording sees such processes
      new ProcessBuilder("test", "-d", dir).start().waitFor()
    } finally rec.stop()
    val file = Paths.get(tempDir("jfr"), "forks.jfr")
    rec.dump(file)
    rec.close()
    val names = Seq(dir, new File(dir).getCanonicalPath)
    val named = RecordingFile.readAllEvents(file).asScala.map(_.getString("command"))
      .filter(c => names.exists(c.contains)).toSeq
    assert(named.exists(_.startsWith("test -d")), s"the recording missed a known fork: $named")
    named.filterNot(_.startsWith("test -d"))
  }

  private def logLine(mid: String, ts: Long): String =
    s"""{"common":{"ar":"1","uid":"u-$mid","ch":"web","is_new":"1","mid":"$mid","vc":"v1"},"page":{"page_id":"home","during_time":30},"ts":$ts}"""

  test("a base_log drain forks no process that names its checkpoint, and keeps .crc and state checksums") {
    val inDir = tempDir("nofork-in"); val outDir = tempDir("nofork-out"); val ckptDir = tempDir("nofork-ckpt")
    val src = new File(s"$inDir/ods_base_log"); src.mkdirs()
    Files.write(new File(src, "b1.txt").toPath, java.util.Arrays.asList(
      logLine("m1", 1700000000000L), logLine("m2", 1700000001000L), logLine("m1", 1700086400000L)))
    val forks = forksUnder(ckptDir) {
      Mains.start(spark, "base_log", inDir, outDir, ckptDir).foreach(_.awaitTermination())
    }
    assert(forks.isEmpty, s"${forks.size} forked processes name the checkpoint, e.g. ${forks.take(3)}")
    assert(spark.read.json(s"$outDir/dwd_page_log").count() == 3)

    val ckpt = s"$ckptDir/base_log"
    Seq("offsets", "commits").foreach { log =>
      assert(listing(s"$ckpt/$log") == Seq(".0.crc", "0"), s"$log: the batch file and its .crc only")
    }
    val stateFiles = Files.walk(Paths.get(ckpt, "state")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    assert(stateFiles.exists(_.endsWith(".delta")), stateFiles)
    assert(stateFiles.filter(_.endsWith(".delta")).forall(d => stateFiles.contains(s".$d.crc")),
      s"every state delta has its .crc: $stateFiles")
    assert(stateFiles.filter(_.endsWith(".delta")).forall(d => stateFiles.contains(s"$d.crc")),
      s"every state delta has Spark's checksum file: $stateFiles")
  }

  test("a query started through EpochStore.run in a fresh session uses the manager") {
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
    assert(!fresh.conf.getOption(Io.ArtifactIsolationKey).contains("false"))
    import fresh.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = fresh.sqlContext
    val ms = MemoryStream[Long]
    ms.addData(1L, 2L)
    val ckpt = tempDir("fresh-ckpt")
    // the session the query runs its micro-batches on: Spark's clone of `fresh`
    val batchIsolation = new java.util.concurrent.atomic.AtomicReference[Option[String]](None)
    val forks = forksUnder(ckpt) {
      val q = EpochStore.run(ms.toDF(), ckpt) { (delta, _) =>
        batchIsolation.set(delta.sparkSession.conf.getOption(Io.ArtifactIsolationKey))
      }
      try q.processAllAvailable() finally q.stop()
    }
    assert(fresh.conf.get(LocalCheckpointFileManager.ConfKey) == classOf[LocalCheckpointFileManager].getName)
    assert(fresh.conf.get(Io.ArtifactIsolationKey) == "false")
    assert(batchIsolation.get.contains("false"), s"the micro-batch session's isolation: ${batchIsolation.get}")
    assert(new File(s"$ckpt/commits/0").isFile)
    assert(forks.isEmpty, s"${forks.size} forked processes name the checkpoint, e.g. ${forks.take(3)}")
  }

  test("a no-overwrite commit over an existing file throws and leaves the file and its .crc as they were") {
    val dir = tempDir("ckfm-clobber")
    val fm = manager(dir)
    val p = new Path(dir, "0")
    write(fm, p, "first")
    val before = (bytes(new File(dir, "0")), bytes(crc(dir, "0")))
    intercept[FileAlreadyExistsException](write(fm, p, "second, longer"))
    assert((bytes(new File(dir, "0")), bytes(crc(dir, "0"))) == before)
    assert(listing(dir) == Seq(".0.crc", "0"), "no temp file is left behind")
    write(fm, p, "third", overwrite = true)
    assert(IOUtils.toString(fm.open(p), "UTF-8") == "third", "an overwriting commit replaces the file")
  }

  test("cancel() leaves no temp file") {
    val dir = tempDir("ckfm-cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(listing(dir).isEmpty, listing(dir))
  }

  test("a committed file has a .crc, and a corrupted byte fails the read") {
    val dir = tempDir("ckfm-crc")
    val fm = manager(dir)
    val p = new Path(dir, "2")
    write(fm, p, "x" * 2000)
    assert(crc(dir, "2").isFile)
    assert(IOUtils.toString(fm.open(p), "UTF-8") == "x" * 2000)
    val raf = new RandomAccessFile(new File(dir, "2"), "rw")
    try { raf.seek(1000); raf.write('y') } finally raf.close()
    intercept[ChecksumException](IOUtils.toByteArray(fm.open(p)))
    assert(listing(dir) == Seq(".2.crc", "2"), "the corrupt file stays where it is")
  }

  test("permission bits equal those of the default manager's files and directories") {
    val dir = tempDir("ckfm-perm")
    val (ours, default) = (manager(dir), CheckpointFileManager.create(new Path(dir), new Configuration()))
    assert(default.isInstanceOf[FileContextBasedCheckpointFileManager])
    write(ours, new Path(dir, "ours"), "a")
    write(default, new Path(dir, "default"), "b")
    ours.mkdirs(new Path(dir, "ours-dir/sub"))
    default.mkdirs(new Path(dir, "default-dir/sub"))
    def bits(f: String) = Files.getPosixFilePermissions(Paths.get(dir, f))
    Seq(("ours", "default"), (".ours.crc", ".default.crc"), ("ours-dir", "default-dir"),
      ("ours-dir/sub", "default-dir/sub")).foreach { case (a, b) =>
      assert(bits(a) == bits(b), s"$a ${bits(a)} vs $b ${bits(b)}")
    }
  }

  test("a scheme-less or file: path gets the fork-free manager, any other scheme Spark's default") {
    assert(manager(tempDir("ckfm-local")).delegate.isInstanceOf[NioCheckpointFileManager])
    assert(manager("file:" + tempDir("ckfm-file")).delegate.isInstanceOf[NioCheckpointFileManager])
    val hdfs = new Path("hdfs://localhost:8020/ckpt")
    assert(new LocalCheckpointFileManager(hdfs, new Configuration()).delegate.getClass ==
      CheckpointFileManager.create(hdfs, new Configuration()).getClass)
    assert(new LocalCheckpointFileManager(hdfs, new Configuration()).delegate
      .isInstanceOf[FileContextBasedCheckpointFileManager])
  }
}
