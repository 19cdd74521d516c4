package graft.time

/** Duration-string parsing.
  *
  * Mirrors the reference's duration grammar (`'1m'` → 60s, `'20s'`,
  * `'1h'`, `'1d'`, `'125ms'`) from svoe `common/time/utils.py:12-17`.
  * Its UTC-midnight-aligned bucketing (`get_sampling_bucket_ts`,
  * `utils.py:40-51`) is the epoch-aligned `floorDiv` in L2Book's
  * sampler. The reference keeps float epoch-seconds rounded to 3dp; we
  * keep exact integer microseconds end-to-end (a deliberate precision
  * upgrade, see SURVEY.md §7 risk register).
  */
object TimeUtils {
  private val Pattern = """^\s*(\d+)\s*(ms|us|s|m|h|d|w)\s*$""".r

  /** Parse a duration string to microseconds. */
  def parseMicros(s: String): Long = s match {
    case Pattern(n, unit) =>
      val v = n.toLong
      unit match {
        case "us" => v
        case "ms" => v * 1000L
        case "s"  => v * 1000000L
        case "m"  => v * 60L * 1000000L
        case "h"  => v * 3600L * 1000000L
        case "d"  => v * 86400L * 1000000L
        case "w"  => v * 604800L * 1000000L
      }
    case _ => throw new IllegalArgumentException(s"bad duration: '$s'")
  }
}
