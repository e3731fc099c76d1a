package graft

/** Per-scale expected values for the measurement SENTINEL — the full
  * lineitem scan to a noop sink that Bench times around
  * every record so a degraded environment (this VM's
  * memory-compaction stalls) marks its own numbers suspect.
  *
  * Round 14's sf30 octave showed why one constant isn't enough: the
  * sentinel scan itself grows with the scale factor, so the
  * sf0.1-calibrated 0.24 s misbrackets every octave record. The table
  * below is the round-15 calibration (BASELINE.md "Sentinel
  * calibration"), measured on the standard ScaleData dirs with the
  * usual thread counts; `SPARK_GRAFT_SENTINEL_SEC` still overrides,
  * and an unknown dir yields 0.0 (sentinels recorded but not judged).
  */
object Sentinel {

  /** dir-basename suffix → expected sentinel seconds. */
  private val calibrated: Seq[(String, Double)] = Seq(
    "sf0.1" -> 0.24,
    "graft_sf1" -> 0.27,
    "graft_sf3" -> 0.55, // interpolated (≈ linear in bytes past sf1)
    "graft_sf10" -> 1.0,
    "graft_sf30" -> 2.1,
    "graft_sf100" -> 7.0
  )

  def expectedFor(sfDir: String): Double =
    sys.env.get("SPARK_GRAFT_SENTINEL_SEC")
      .flatMap { s =>
        val p = scala.util.Try(s.toDouble).toOption
        if (p.isEmpty) System.err.println(s"[bench] ignoring malformed SPARK_GRAFT_SENTINEL_SEC=$s")
        p
      }
      .getOrElse {
        val base = sfDir.stripSuffix("/")
        calibrated.collectFirst { case (k, v) if base.endsWith(k) => v }.getOrElse(0.0)
      }
}
