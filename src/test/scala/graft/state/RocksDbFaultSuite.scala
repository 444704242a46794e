package graft.state

import java.io.{FilterOutputStream, IOException, OutputStream}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.state.{NoPrefixKeyStateEncoderSpec, StateStoreId}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** The local file system under the `faultfs` scheme, with three faults
  * that can be switched on: writes to a file whose name contains
  * `tearName` fail after `tearAfterBytes` bytes (an upload that dies
  * partway), and listings fail, or opening a file whose name contains
  * `failOpenName` fails (a transient outage of the checkpoint store).
  */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    val tear = FaultFs.tearName
    if (tear == null || !f.getName.contains(tear)) out
    else new FSDataOutputStream(new FaultFs.TearingStream(out, FaultFs.tearAfterBytes), statistics)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    if (FaultFs.failListing) throw new IOException(s"injected listing failure at $f")
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val fail = FaultFs.failOpenName
    if (fail != null && f.getName.contains(fail)) throw new IOException(s"injected open failure at $f")
    super.open(f, bufferSize)
  }
}

object FaultFs {
  @volatile var tearName: String = null
  @volatile var tearAfterBytes: Long = 0L
  @volatile var failListing: Boolean = false
  @volatile var failOpenName: String = null

  def reset(): Unit = { tearName = null; failListing = false; failOpenName = null }

  /** Passes `limit` bytes through, then fails every write; close still
    * closes the file, so whatever got through stays on disk. */
  final class TearingStream(out: OutputStream, limit: Long) extends FilterOutputStream(out) {
    private var written = 0L
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      val room = math.max(0L, limit - written).min(len.toLong).toInt
      out.write(b, off, room)
      written += room
      if (room < len) throw new IOException("injected: upload died partway")
    }
  }
}

/** Checkpoint-FS faults against the RocksDB backend: a torn upload must
  * leave no file under its final name (so GC can never take it as a base),
  * a listing failure must surface instead of recovering an older or empty
  * store, a truncated snapshot must fall back to an older base, and
  * maintenance must clear the temp files of dead writes at or below its
  * GC base.
  */
class RocksDbFaultSuite extends AnyFunSuite with BeforeAndAfterEach {
  import StateTestHelper._

  override def afterEach(): Unit = FaultFs.reset()

  private def newDir(): String =
    "faultfs://" + Files.createTempDirectory("graft-fault").toString

  private def provider(dir: String,
      extraConf: Map[String, String] = Map.empty): RocksDbStateStoreProvider = {
    val hadoopConf = new Configuration()
    hadoopConf.set("fs.faultfs.impl", classOf[FaultFs].getName)
    extraConf.foreach { case (k, v) => hadoopConf.set(k, v) }
    val p = new RocksDbStateStoreProvider
    p.init(StateStoreId(dir, operatorId = 0, partitionId = 0), keySchema, valueSchema,
      NoPrefixKeyStateEncoderSpec(keySchema), useColumnFamilies = false,
      storeConf(minVersionsToRetain = 1), hadoopConf, useMultipleValuesPerKey = false,
      stateSchemaProvider = None)
    p
  }

  private def stateFile(dir: String, name: String): java.io.File =
    new java.io.File(new URI(dir).getPath, s"0/0/$name")

  test("a torn snapshot upload leaves no snapshot file and GC keeps the last good version") {
    val dir = newDir()
    val p = provider(dir)
    commitVersions(p, 1, 9) // snapshot 5 lands on the cadence
    FaultFs.tearName = "state.snapshot.10"
    FaultFs.tearAfterBytes = 100
    val s9 = p.getStore(9, None)
    put(s9, "k10", 10)
    val e = intercept[IOException](s9.commit())
    assert(e.getMessage.contains("injected"))
    FaultFs.reset()
    p.close() // the executor dies before a retry

    // maintenance elsewhere GCs behind the newest snapshot base it lists
    val gc = provider(dir)
    gc.doMaintenance()
    gc.close()

    // the retried batch reloads version 9 from the durable files alone
    val p2 = provider(dir)
    val s = p2.getStore(9, None)
    assert(contents(s) === model(9))
    s.abort()
    p2.close()
    assert(!stateFile(dir, "state.snapshot.10").exists())
  }

  test("a torn changelog upload leaves no changelog file") {
    val dir = newDir()
    val p = provider(dir)
    commitVersions(p, 1, 6)
    FaultFs.tearName = "state.changelog.7"
    FaultFs.tearAfterBytes = 10
    val s6 = p.getStore(6, None)
    (1 to 20).foreach(i => put(s6, s"x$i", i))
    intercept[IOException](s6.commit())
    FaultFs.reset()
    p.close()
    assert(!stateFile(dir, "state.changelog.7").exists())
    assert(stateFile(dir, "state.changelog.6").exists())

    val p2 = provider(dir)
    val s = p2.getStore(6, None)
    assert(contents(s) === model(6))
    s.abort()
    p2.close()
  }

  test("a listing failure at getStore throws instead of opening an older or empty store") {
    val dir = newDir()
    val p = provider(dir)
    (1 to 7).foreach { v =>
      commitVersions(p, v, v)
      p.doMaintenance() // retention 1: changelogs at or below snapshot 5 go
    }
    p.close()
    assert(!stateFile(dir, "state.changelog.1").exists())

    FaultFs.failListing = true
    val p2 = provider(dir)
    val e = intercept[IOException](p2.getStore(7, None))
    assert(e.getMessage.contains("injected listing failure"))
    FaultFs.reset()
    val s = p2.getStore(7, None)
    assert(contents(s) === model(7))
    s.abort()
    p2.close()
  }

  test("a file that is listed but cannot be opened throws instead of opening an older store") {
    val dir = newDir()
    val p = provider(dir)
    (1 to 7).foreach { v =>
      commitVersions(p, v, v)
      p.doMaintenance() // retention 1: changelogs at or below snapshot 5 go
    }
    p.close()

    // the changelog on top of the base, then the only base
    Seq("state.changelog.7", "state.snapshot.5").foreach { name =>
      FaultFs.failOpenName = name
      val p2 = provider(dir)
      val e = intercept[IOException](p2.getStore(7, None))
      assert(e.getMessage.contains("injected open failure"), name)
      FaultFs.reset()
      val s = p2.getStore(7, None)
      assert(contents(s) === model(7))
      s.abort()
      p2.close()
    }
  }

  test("Spark's FileContext-based manager, used off the local file system, commits and recovers") {
    // a file:// path outside LocalFileSystem takes CheckpointFileManager.create's
    // FileContext-based manager, as HDFS and object stores do
    val raw = Map("fs.file.impl" -> classOf[RawLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    val dir = "file://" + Files.createTempDirectory("graft-fc").toString
    val p = provider(dir, raw)
    (1 to 12).foreach { v =>
      commitVersions(p, v, v)
      p.doMaintenance()
    }
    p.close()
    val names = stateFile(dir, "").list().toSeq
    assert(names.filter(_.startsWith("state.")).sorted ===
      Seq("state.changelog.11", "state.changelog.12", "state.snapshot.10"))
    assert(!names.exists(_.endsWith(".tmp")), s"temp files left: $names")

    val p2 = provider(dir, raw)
    val s = p2.getStore(12, None)
    assert(contents(s) === model(12))
    s.abort()
    p2.close()
  }

  test("a truncated snapshot falls back to the older base") {
    val dir = newDir()
    val p = provider(dir)
    commitVersions(p, 1, 11) // snapshots 5 and 10
    p.close()

    // cut snapshot 10 in half; faultfs keeps no checksums, so the unzip
    // itself meets the cut
    val zip = stateFile(dir, "state.snapshot.10").toPath
    val bytes = Files.readAllBytes(zip)
    Files.write(zip, java.util.Arrays.copyOf(bytes, bytes.length / 2))

    val p2 = provider(dir)
    val s = p2.getStore(11, None)
    assert(contents(s) === model(11))
    s.abort()
    p2.close()
  }

  test("maintenance deletes temp files of dead writes at or below the GC base only") {
    val dir = newDir()
    val p = provider(dir)
    commitVersions(p, 1, 9) // retention 1: the GC base is snapshot 5
    // what a crash between createAtomic and its rename leaves behind,
    // planted at and below the base and above it (a write still in flight)
    def leftovers(snapshot: Int, changelog: Int): Seq[String] = Seq(
      s".state.snapshot.$snapshot.${java.util.UUID.randomUUID}.tmp",
      s".state.changelog.$changelog.${java.util.UUID.randomUUID}.TID7.tmp"
    ).flatMap(n => Seq(n, s".$n.crc"))
    val below = leftovers(snapshot = 5, changelog = 3)
    val above = leftovers(snapshot = 10, changelog = 7)
    val conf = new Configuration()
    conf.set("fs.faultfs.impl", classOf[FaultFs].getName)
    val stateDir = new Path(s"$dir/0/0")
    val fs = stateDir.getFileSystem(conf)
    (below ++ above).foreach(n => fs.create(new Path(stateDir, n), false).close())

    p.doMaintenance()
    val names = stateFile(dir, "").list().toSeq
    assert(below.filter(names.contains) === Nil)
    assert(above.filterNot(names.contains) === Nil)
    assert(names.filter(_.startsWith("state.")).sorted ===
      Seq("state.changelog.6", "state.changelog.7", "state.changelog.8", "state.changelog.9",
        "state.snapshot.5"))
    p.close()
  }
}
