package graft.pipeline

/** Pipeline configuration mirroring the reference's Airflow Variables
  * (dags/msconvert_dag.py:22-64) with the same defaults and the same
  * string→bool parsing quirk.
  *
  * @param watchDir      root scanned for plate dirs (WATCH_DIR)
  * @param outputDir     converted-output root (OUTPUT_DIR)
  * @param archiveDir    tar archive root (ARCHIVE_DIR)
  * @param stateDir      engine-owned ledgers/state (replaces the reference's
  *                      sentinel files + Airflow metadata DB)
  * @param format        "mzml" | "mzxml" (FORMAT, :30)
  * @param gzipOut       gzip converted output (GZIP_OUT, :33)
  * @param archiveOrig   tar the original run dir (ARCHIVE_ORIG, :36)
  * @param archiveGzip   gzip the tar (ARCHIVE_GZIP, :38)
  * @param deleteOrig    delete original after archive (DELETE_ORIG, :40)
  * @param archivePolicy "skip" | "replace" prior archives (ARCHIVE_POLICY, :41-43)
  * @param quietS        seconds of size stability required (QUIET_S=120, :46)
  * @param maxMap        per-cycle work cap (MAX_MAP=1024, :63)
  * @param maxAttempts   failures before permanent skip (MAX_ATTEMPTS=3, :133)
  * @param failThreshold batch failure tolerance (FAIL_THRESHOLD=10, :64)
  * @param poolSlots     external-process parallelism (pool 'msconvert'=4,
  *                      docker-compose.yml:74)
  * @param command       external command template; tokens {IN} {BASE} {STEM}
  *                      {OUTFILE} {PLATE_REL} {OUTDIR} substituted per run and
  *                      also exported as env vars (the msconvert contract,
  *                      :265-339 — the binary itself is site-specific; its
  *                      contract is "rc 0 + expected output file exists")
  */
final case class GraftConfig(
    watchDir: String,
    outputDir: String,
    archiveDir: String,
    stateDir: String,
    format: String = "mzml",
    gzipOut: Boolean = false,
    archiveOrig: Boolean = true,
    archiveGzip: Boolean = true,
    deleteOrig: Boolean = false,
    archivePolicy: String = "skip",
    quietS: Int = 120,
    maxMap: Int = 1024,
    maxAttempts: Int = 3,
    failThreshold: Int = 10,
    poolSlots: Int = 4,
    command: Seq[String] = Seq.empty) {
  require(format == "mzml" || format == "mzxml", s"FORMAT must be mzml|mzxml: $format")
  require(archivePolicy == "skip" || archivePolicy == "replace",
    s"ARCHIVE_POLICY must be skip|replace: $archivePolicy")
}

object GraftConfig {
  /** The reference's exact truthiness: only "1"/"true"/"True"
    * (dags/msconvert_dag.py:33-40 pattern `in ("1","true","True")`).
    */
  def parseBool(s: String): Boolean = s == "1" || s == "true" || s == "True"

  /** The PRIVILEGED flag's distinct, case-insensitive truthiness:
    * `.lower() in ("1","true","yes")` (dags/msconvert_dag.py:52-56) — the
    * one Variable in the reference that also accepts "yes".
    */
  def parseBoolPrivileged(s: String): Boolean =
    Set("1", "true", "yes").contains(s.toLowerCase)
}
