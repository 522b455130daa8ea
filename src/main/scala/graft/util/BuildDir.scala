package graft.util

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Build-once directories for derived layouts (served indexes, ORC and
  * z-ordered copies) under the JVM's tmp dir. The name embeds a content
  * fingerprint of the source table ([[DataFingerprint]]), so regenerated
  * testdata mints a new directory and forces a rebuild instead of
  * serving a stale layout. A change to what a build writes needs a new
  * `name`.
  *
  * A directory is built into a unique sibling and published by one
  * atomic rename, so it is either absent or complete. Processes that
  * build one key at once (Verify, Bench and the tests on one SF) each
  * build a copy; the first rename wins, and every loser deletes its
  * copy and serves the winner's. Once published, a directory is served
  * by this JVM and by later ones without a rebuild.
  */
object BuildDir {

  /** Published directories, by path: the in-JVM memo. */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The directory for `name` over `<sfDir>/<table>.parquet`, built by
    * `build(path)` unless it is already published. */
  def apply(s: SparkSession, sfDir: String, name: String, table: String)(
      build: String => Unit): String = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_built",
      name + "_" + sfDir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        DataFingerprint.of(s, s"$sfDir/$table.parquet"))
    // one build per key in this JVM: computeIfAbsent blocks a second
    // caller of the same key until the first has published
    built.computeIfAbsent(dir.toString, _ => publish(dir)(build).toString)
  }

  /** Publish `dir` unless it exists: `build` writes a unique sibling,
    * which is renamed onto `dir`, or deleted when another builder
    * published first. Returns `dir`, complete either way. */
  def publish(dir: Path)(build: String => Unit): Path = {
    if (!Files.isDirectory(dir)) {
      Files.createDirectories(dir.getParent)
      // not dot-prefixed: Spark's file listing skips hidden paths, and a
      // build may read back what it wrote
      val staging = dir.resolveSibling(
        s"${dir.getFileName}.staging-${java.util.UUID.randomUUID()}")
      try {
        build(staging.toString)
        try Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
        catch {
          // lost the race: the winner's copy is complete
          case _: java.io.IOException if Files.isDirectory(dir) =>
        }
      } finally new scala.reflect.io.Directory(staging.toFile).deleteRecursively()
    }
    dir
  }
}
