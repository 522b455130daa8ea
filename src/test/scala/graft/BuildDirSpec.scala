package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.util.BuildDir

class BuildDirSpec extends AnyFunSuite {

  private def listing(dir: Path): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  test("two concurrent builders of one key both return a complete directory") {
    val root = Files.createTempDirectory("builddir_spec")
    val dir = root.resolve("index_key")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // both builds are under way before either publishes
    val started = new CountDownLatch(2)
    def build(out: String): Unit = {
      val p = java.nio.file.Paths.get(out)
      Files.createDirectories(p)
      Files.write(p.resolve("part-0"), "a".getBytes)
      started.countDown()
      assert(started.await(30, TimeUnit.SECONDS))
      Files.write(p.resolve("_centroids"), "b".getBytes)
    }
    try {
      val got = Await.result(Future.sequence(Seq.fill(2)(
        Future(BuildDir.publish(dir)(build)))), Duration(60, "s"))
      assert(got == Seq(dir, dir))
      assert(listing(dir) == Set("part-0", "_centroids"))
      // the loser's copy is gone: only the published directory remains
      assert(listing(root) == Set("index_key"))
      // a published key is served without a rebuild
      BuildDir.publish(dir)(_ => fail("rebuilt a published directory"))
    } finally {
      pool.shutdown()
      new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    }
  }
}
