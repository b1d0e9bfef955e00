package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

/** The lease-then-sweep protocol for stored-artifact generations (the r10
  * "cross-process safety" finding): a superseded generation must SURVIVE
  * the sweep while any process could still be reading it — i.e. while its
  * `.lease` is inside the grace window — and be reclaimed once the lease
  * ages out. This removes the hard single-JVM assumption the sweep used
  * to carry: a concurrent JVM can no longer have a generation deleted
  * mid-read, because its own dir() call refreshed that generation's
  * lease.
  */
class StoredArtifactsSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def writeFixture(dir: String, stamp: Long): Unit = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    val f = p.resolve("t.parquet")
    Files.write(f, s"payload-$stamp".getBytes("UTF-8"))
    Files.setLastModifiedTime(f, FileTime.fromMillis(stamp))
  }

  test("superseded generation survives the sweep inside the lease grace") {
    val fixture = Files.createTempDirectory("graft-sa-fixture").toString
    writeFixture(fixture, 1000000L)
    val gen1 = StoredArtifacts.dir(fixture, "idx_v1")
    Files.createDirectories(Paths.get(gen1))
    Files.write(Paths.get(gen1, "part-0.bin"), Array[Byte](1, 2, 3))
    // fixture regenerated -> a fresh dir() call computes a NEW generation
    // and sweeps; gen1's lease was refreshed moments ago, so it must
    // survive (another JVM serving gen1 could be mid-read right now)
    writeFixture(fixture, 2000000L)
    val gen2 = StoredArtifacts.dir(fixture, "idx_v1")
    assert(gen2 != gen1, "regeneration must re-key the generation")
    assert(Files.exists(Paths.get(gen1, "part-0.bin")),
      "a superseded generation with a live lease must survive the sweep")
    // interleaved serve: the old-generation reader can still read every
    // byte it indexed — the exact mid-read window the r10 verdict called
    // out as a spurious-missing-file risk
    assert(Files.readAllBytes(Paths.get(gen1, "part-0.bin")).toSeq ==
      Seq[Byte](1, 2, 3))
    // age gen1's lease past the grace window -> the next sweep reclaims
    // it, keeping disk bounded
    val gen1Dir = Paths.get(gen1).getParent
    val lease = gen1Dir.resolve(".lease")
    assert(Files.exists(lease), "dir() must have written a lease marker")
    val old = FileTime.fromMillis(
      System.currentTimeMillis() - StoredArtifacts.SweepGraceMs - 60000L)
    Files.setLastModifiedTime(lease, old)
    val gen2Again = StoredArtifacts.dir(fixture, "idx_v1")
    assert(gen2Again == gen2, "unchanged fixture must keep its generation")
    assert(!Files.exists(gen1Dir),
      "an aged-out superseded generation must be reclaimed")
  }

  test("lease refresh on every dir() call keeps a serving generation alive") {
    val fixture = Files.createTempDirectory("graft-sa-fixture2").toString
    writeFixture(fixture, 1000000L)
    val gen = StoredArtifacts.dir(fixture, "idx_v1")
    val lease = Paths.get(gen).getParent.resolve(".lease")
    val t0 = Files.getLastModifiedTime(lease).toMillis
    // simulate an old lease, then a reader coming back: dir() must
    // refresh it (this is what protects the generation from a concurrent
    // sweeper for another full grace window)
    Files.setLastModifiedTime(lease, FileTime.fromMillis(t0 - 10 * 60 * 1000))
    StoredArtifacts.dir(fixture, "idx_v1")
    assert(Files.getLastModifiedTime(lease).toMillis >= t0,
      "dir() must refresh the current generation's lease")
  }

  test("dir, deleteTree and sweepUnreachable leave no file descriptor open") {
    def openFds(): Int = {
      System.gc()
      new java.io.File("/proc/self/fd").list().length
    }
    val root = Files.createTempDirectory("graft-sa-fds")
    val fixture = root.resolve("src").toString
    val manifest = root.resolve("manifest").toString
    writeFixture(fixture, 1000000L)
    StoredManifest.write(manifest, "gen_1", Seq("s"))
    try {
      StoredArtifacts.dir(fixture, "idx_v1") // first touch: classes, jars
      val before = openFds()
      for (i <- 0 until 50) {
        StoredArtifacts.dir(fixture, "idx_v1")
        val tree = root.resolve(s"tree_$i")
        Files.createDirectories(tree.resolve("a/b"))
        Files.write(tree.resolve("a/b/f"), Array[Byte](1))
        StoredArtifacts.deleteTree(tree.toString)
        Files.createDirectories(Paths.get(manifest, "gen_0", "s"))
        StoredManifest.sweepUnreachable(manifest)
        assert(!Files.exists(tree) && !Files.exists(Paths.get(manifest, "gen_0")))
      }
      // one leaked stream per round would read +50 or more; the slack
      // absorbs a descriptor another thread of the JVM opens meanwhile
      val after = openFds()
      assert(after <= before + 5, s"open descriptors grew from $before to $after")
    } finally StoredArtifacts.deleteTree(root.toString)
  }
}
