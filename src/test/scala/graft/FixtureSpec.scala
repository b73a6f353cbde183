package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

/** [[Fixture.stamped]]'s lifecycle, filesystem only (no Spark job):
  * private builds, one atomic publish, and a GC that never removes
  * what another caller may still be using. Every case works under
  * its own random fixture name in the shared tmpdir. */
class FixtureSpec extends AnyFunSuite {
  private val tmp = new File(sys.props("java.io.tmpdir"))

  private def freshName(): String =
    "fxspec" + java.util.UUID.randomUUID().toString.take(8)

  private def valid(dir: File): Boolean = Fixture.has(dir, "_DONE")

  /** a build that leaves `id` behind, so the published copy names
    * the build that produced it */
  private def write(bld: File, id: String): Unit = {
    bld.mkdirs()
    Files.writeString(new File(bld, s"by-$id").toPath, id)
    Files.writeString(new File(bld, "_DONE").toPath, "")
  }

  private def entries(name: String): Array[String] =
    Option(tmp.listFiles()).getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith(s"graft_${name}_"))

  private def cleanup(name: String): Unit =
    entries(name).foreach(n => FileUtils.deleteQuietly(new File(tmp, n)))

  /** runs `body` on its own thread; the returned thunk joins it */
  private def inThread[T](body: => T): () => T = {
    @volatile var out: Either[Throwable, T] = null
    val th = new Thread(() =>
      out = try Right(body) catch { case e: Throwable => Left(e) })
    th.start()
    () => { th.join(60000L); out.fold(e => throw e, identity) }
  }

  test("different stamps: B's GC runs while A's build is in flight — both publish, nothing of either is removed") {
    val name = freshName()
    try {
      val aBuilding = new CountDownLatch(1)
      val bDone = new CountDownLatch(1)
      @volatile var aBuildSurvived = false
      val aResult = inThread(Fixture.stamped(name, "a", valid) { bld =>
        bld.mkdirs()
        Files.writeString(new File(bld, "half").toPath, "a")
        aBuilding.countDown()
        assert(bDone.await(60, TimeUnit.SECONDS))
        aBuildSurvived = new File(bld, "half").isFile
        write(bld, "a")
      })
      assert(aBuilding.await(60, TimeUnit.SECONDS))
      val dirB = try Fixture.stamped(name, "b", valid)(write(_, "b"))
        finally bDone.countDown()
      val dirA = aResult()
      assert(aBuildSurvived, "B's GC removed A's in-flight build")
      assert(dirA == new File(tmp, s"graft_${name}_a").getPath &&
        dirB == new File(tmp, s"graft_${name}_b").getPath)
      assert(valid(new File(dirA)) && valid(new File(dirB)))
      // a third stamp's miss leaves both published copies in place
      val dirC = Fixture.stamped(name, "c", valid)(write(_, "c"))
      assert(Seq(dirA, dirB, dirC).forall(d => valid(new File(d))))
      assert(entries(name).sorted.toSeq ==
        Seq("a", "b", "c").map(st => s"graft_${name}_$st"))
    } finally cleanup(name)
  }

  test("same stamp: two racing builders publish exactly one build, both serve it, no _build_ dir is left") {
    val name = freshName()
    try {
      val bothBuilding = new CountDownLatch(2)
      def racer(id: String) = inThread(Fixture.stamped(name, "s", valid) { bld =>
        bld.mkdirs()
        bothBuilding.countDown()
        assert(bothBuilding.await(60, TimeUnit.SECONDS))
        write(bld, id)
      })
      val r1 = racer("1")
      val r2 = racer("2")
      val (d1, d2) = (r1(), r2())
      assert(d1 == d2 && d1 == new File(tmp, s"graft_${name}_s").getPath)
      val published = new File(d1).list().filter(_.startsWith("by-"))
      assert(published.length == 1, published.mkString(","))
      assert(entries(name).toSeq == Seq(s"graft_${name}_s"))
    } finally cleanup(name)
  }

  test("GC by age: abandoned builds and other stamps unused past the bound are collected, fresh ones kept; a hit touches mtime") {
    val name = freshName()
    try {
      val old = System.currentTimeMillis() - Fixture.MaxIdleMs - 3600000L
      def mk(n: String, mtime: Option[Long]): File = {
        val f = new File(tmp, s"graft_${name}_$n")
        write(f, n)
        mtime.foreach(t => assert(f.setLastModified(t)))
        f
      }
      val oldBuild = mk("build_old", Some(old))
      val oldStamp = mk("oldstamp", Some(old))
      val freshBuild = mk("build_fresh", None)
      val freshStamp = mk("freshstamp", None)
      Fixture.stamped(name, "x", valid)(write(_, "x"))
      assert(!oldBuild.exists && !oldStamp.exists)
      assert(freshBuild.exists && freshStamp.exists)
      // a valid hit serves without building (and without a GC pass)
      // and refreshes the mtime the GC ages by
      val hit = mk("hit", Some(old))
      assert(Fixture.stamped(name, "hit", valid)(_ =>
        fail("a valid directory must be served, not rebuilt")) == hit.getPath)
      assert(hit.lastModified > old + Fixture.MaxIdleMs)
    } finally cleanup(name)
  }

  test("an invalid directory at the same stamp is replaced, never served") {
    val name = freshName()
    try {
      val dir = new File(tmp, s"graft_${name}_s")
      dir.mkdirs()
      Files.writeString(new File(dir, "old-layout").toPath, "")
      assert(!valid(dir))
      assert(Fixture.stamped(name, "s", valid)(write(_, "new")) == dir.getPath)
      assert(valid(dir) && new File(dir, "by-new").isFile &&
        !new File(dir, "old-layout").exists)
      assert(entries(name).toSeq == Seq(s"graft_${name}_s"))
    } finally cleanup(name)
  }
}
