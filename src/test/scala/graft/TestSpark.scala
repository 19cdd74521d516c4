package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val session: SparkSession = graft.core.Sessions.local(4)

  /** PURE-SCALA replay of the hot-bucket keep rule
    * (graft.operators.Dedup.md5Keeps) — first 6 md5 hex chars of the
    * key's decimal string, parsed base-16, thresholded by
    * hv·bucketSize < cap·2^24. Independent of Catalyst so the specs
    * cross-check the engine's expression against a second
    * implementation. */
  def md5Keeps(key: Long, bucketSize: Long, cap: Long): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hv = ((d(0) & 0xFFL) << 16) | ((d(1) & 0xFFL) << 8) | (d(2) & 0xFFL)
    hv * bucketSize < (cap << 24)
  }
}
