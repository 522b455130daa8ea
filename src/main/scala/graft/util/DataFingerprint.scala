package graft.util

import org.apache.spark.sql.SparkSession

/** Content fingerprint of a dataset path, for build-once memo keys.
  *
  * Per-JVM memos that gate expensive one-time builds (served IVF /
  * near-dup index layouts, bucketed tables, trained models) used to
  * key on the source PATH alone — if the driver regenerates testdata
  * under the same path within one JVM lifetime, a stale layout would
  * be served against a fresh oracle's input. Keying on
  * (path | fingerprint) makes regeneration mint a NEW memo key (and a
  * new build directory), forcing a rebuild. The fingerprint is the
  * commutative sum of per-file hashes over (name, length, mtime) —
  * listing order independent, one metadata listing, zero data read —
  * so it stays O(#files) at any corpus size.
  */
object DataFingerprint {
  def of(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val acc = graft.ingest.Discovery.leafFiles(fs, p).map { st =>
      scala.util.hashing.MurmurHash3.stringHash(
        s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}").toLong
    }.sum
    java.lang.Long.toHexString(acc)
  }
}
