package graft.state

import java.io.File
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Durability + the lenient recovery ladder under changelog checkpointing:
  * every commit writes a small changelog; full zip snapshots land on the
  * snapshot cadence (default every 5 commits); recovery = newest loadable
  * snapshot base + changelog replay, degrading through older bases to
  * empty — the reference's observable contracts
  * (RocksDbStateStoreProviderSuite.scala :25-117) preserved on the
  * amortized-upload design.
  */
class RocksDbRecoverySuite extends AnyFunSuite {
  import StateTestHelper._

  private def stateFiles(dir: String, prefix: String): Seq[Long] = {
    val stateDir = new File(s"$dir/0/0") // operator 0, partition 0
    if (!stateDir.exists()) Seq.empty
    else stateDir.listFiles().map(_.getName).toSeq
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong).sorted
  }

  test("every commit writes a durable changelog; zips land on the cadence") {
    val dir = Files.createTempDirectory("graft-snap").toString
    val p = initProvider(new RocksDbStateStoreProvider, dir)
    (0 until 7).foreach { v =>
      val s = p.getStore(v, None)
      put(s, "batch", v)
      assert(s.commit() === v + 1)
    }
    assert(stateFiles(dir, "state.changelog.") === (1L to 7L))
    assert(stateFiles(dir, "state.snapshot.") === Seq(5L)) // cadence = 5
    p.close()
  }

  test("cleanup: retention GC keeps a snapshot base + retained changelogs") {
    val dir = Files.createTempDirectory("graft-gc").toString
    val p = initProvider(new RocksDbStateStoreProvider, dir)
    (0 until 20).foreach { v =>
      val s = p.getStore(v, None)
      put(s, s"k$v", v)
      s.commit()
      p.doMaintenance()
    }
    // retention 3 → horizon 18; base snapshot 15 retained, older GC'd
    assert(stateFiles(dir, "state.snapshot.") === Seq(15L, 20L))
    assert(stateFiles(dir, "state.changelog.").forall(_ > 15L))
    // latest state intact…
    val s20 = p.getStore(20, None)
    assert(contents(s20).size === 20)
    s20.abort()
    // …and a mid-horizon version reconstructs from base + changelogs
    val s18 = p.getStore(18, None)
    assert(contents(s18).size === 18)
    s18.abort()
    p.close()
  }

  test("corrupted changelog degrades to the base; all-corrupt opens empty") {
    val dir = Files.createTempDirectory("graft-corrupt").toString
    val p = initProvider(new RocksDbStateStoreProvider, dir)
    (0 until 6).foreach { v =>
      val s = p.getStore(v, None)
      put(s, "batch", v)
      s.commit()
    }
    p.close() // drop local snapshots: recovery must use the durable files

    // corrupt changelog 6: getStore(6) falls back to snapshot 5's state
    val p2 = initProvider(new RocksDbStateStoreProvider, dir)
    Files.write(new File(s"$dir/0/0/state.changelog.6").toPath, Array[Byte](1, 2, 3))
    val s6 = p2.getStore(6, None)
    assert(get(s6, "batch").contains(4)) // v5 holds batch=4
    s6.abort()
    p2.close()

    // corrupt the snapshot AND all changelogs: opens empty, never throws
    val p3 = initProvider(new RocksDbStateStoreProvider, dir)
    Files.write(new File(s"$dir/0/0/state.snapshot.5").toPath, Array[Byte](9))
    (1 to 6).foreach { v =>
      Files.write(new File(s"$dir/0/0/state.changelog.$v").toPath, Array[Byte](9))
    }
    val sEmpty = p3.getStore(6, None)
    assert(contents(sEmpty).isEmpty)
    sEmpty.abort()
    p3.close()
  }

  test("a changelog cut inside a record replays nothing of its version") {
    val dir = Files.createTempDirectory("graft-cutlog").toString
    val p = initProvider(new RocksDbStateStoreProvider, dir)
    (0 until 5).foreach { v =>
      val s = p.getStore(v, None)
      put(s, s"k$v", v)
      s.commit()
    }
    val s5 = p.getStore(5, None)
    put(s5, "a6", 6)
    put(s5, "b6", 6)
    put(s5, "k0", 60)
    s5.commit()
    p.close() // drop local snapshots: recovery must use the durable files

    // cut changelog 6 inside its second record, as a torn upload would
    // leave it. A record is [1B op][4B keyLen][key][4B valLen][val]; the
    // first one is a put. The short file goes through the Hadoop
    // FileSystem so that its checksum matches and the reader sees the cut
    val log = new Path(s"$dir/0/0/state.changelog.6")
    val bytes = Files.readAllBytes(new File(log.toString).toPath)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    assert(buf.get() === 0)
    val keyLen = buf.getInt()
    buf.position(buf.position() + keyLen)
    val valLen = buf.getInt()
    val firstEnd = buf.position() + valLen
    assert(firstEnd + 5 < bytes.length)
    val out = log.getFileSystem(new Configuration()).create(log, true)
    try out.write(bytes, 0, firstEnd + 5) finally out.close()

    val p2 = initProvider(new RocksDbStateStoreProvider, dir)
    val s6 = p2.getStore(6, None)
    assert(contents(s6) === (0 until 5).map(v => s"k$v" -> v).toMap)
    s6.abort()
    p2.close()
  }

  test("restart recovery from durable artifacts alone (changelogs, no zip yet)") {
    val dir = Files.createTempDirectory("graft-restart").toString
    val p = initProvider(new RocksDbStateStoreProvider, dir)
    val s0 = p.getStore(0, None)
    (1 to 50).foreach(i => put(s0, s"k$i", i))
    s0.commit() // version 1: below the zip cadence → changelog only
    p.close()   // simulates executor death: local dirs gone

    val p2 = initProvider(new RocksDbStateStoreProvider, dir)
    val s1 = p2.getStore(1, None)
    assert(contents(s1).size === 50)
    assert(get(s1, "k37").contains(37))
    s1.abort()
    p2.close()
  }

  test("snapshots are written stored; one deflated as older versions wrote it still loads") {
    val dir = Files.createTempDirectory("graft-deflated").toString
    val p = initProvider(new RocksDbStateStoreProvider, dir)
    commitVersions(p, 1, 7)
    p.close()

    // the new archive stores every entry: deflate would shrink the text
    // files (OPTIONS, MANIFEST) below their size
    val zipPath = new Path(s"$dir/0/0/state.snapshot.5")
    def entries(): Seq[(ZipEntry, Array[Byte])] = {
      val zf = new ZipFile(zipPath.toString)
      try zf.entries().asScala.toSeq.map(e => e -> zf.getInputStream(e).readAllBytes())
      finally zf.close()
    }
    val stored = entries()
    assert(stored.nonEmpty)
    stored.foreach { case (e, _) =>
      assert(e.getCompressedSize >= e.getSize, s"${e.getName} is deflated")
    }

    // re-zip it at the default deflate level, through the Hadoop
    // FileSystem so that its checksum matches
    val fs = zipPath.getFileSystem(new Configuration())
    val out = new ZipOutputStream(fs.create(zipPath, true))
    try stored.foreach { case (e, bytes) =>
      out.putNextEntry(new ZipEntry(e.getName)); out.write(bytes); out.closeEntry()
    } finally out.close()
    assert(entries().exists { case (e, _) => e.getCompressedSize < e.getSize })
    // without changelogs 1..5 only the snapshot can reach version 7
    (1 to 5).foreach(v => fs.delete(new Path(s"$dir/0/0/state.changelog.$v"), false))

    val p2 = initProvider(new RocksDbStateStoreProvider, dir)
    val s7 = p2.getStore(7, None)
    assert(contents(s7) === model(7))
    s7.abort()
    p2.close()
  }

  test("a dirty abort between cadences reopens from the local base plus changelogs") {
    val dir = Files.createTempDirectory("graft-reopen").toString
    val p = initProvider(new RocksDbStateStoreProvider, dir)
    commitVersions(p, 1, 7) // local checkpoint at 5 only; 6 and 7 are changelogs
    val dirty = p.getStore(7, None)
    put(dirty, "uncommitted", 99)
    dirty.abort()

    val s7 = p.getStore(7, None)
    assert(contents(s7) === model(7))
    put(s7, "k8", 8)
    assert(s7.commit() === 8)
    p.close()

    val p2 = initProvider(new RocksDbStateStoreProvider, dir)
    val s8 = p2.getStore(8, None)
    assert(contents(s8) === model(8))
    s8.abort()
    p2.close()
  }
}
