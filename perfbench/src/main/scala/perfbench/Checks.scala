package perfbench

/** The workloads' correctness checks, as pure functions of numbers the
  * workloads collect, so a planted fault can be fed to each directly.
  */
object Checks {
  /** A spec-run must end `success`, or `no-data-to-load` when its slice
    * holds no new rows.
    */
  def status(what: String, status: String, expectData: Boolean): Check = {
    val want = if (expectData) graft.model.RunStatus.Success else graft.model.RunStatus.NoData
    Check(s"status $what", status == want, s"got $status, want $want")
  }

  /** A lake holds exactly the source's rows over the ingested window. */
  def lake(name: String, lakeRows: Long, lakeCents: Long, srcRows: Long,
           srcCents: Long): Check =
    Check(s"lake $name", lakeRows == srcRows && lakeCents == srcCents,
      s"lake rows=$lakeRows cents=$lakeCents, source rows=$srcRows cents=$srcCents")

  /** The latest-row view has one row per distinct key. */
  def viewCount(name: String, viewRows: Long, distinctKeys: Long): Check =
    Check(s"view $name", viewRows == distinctKeys,
      s"view rows=$viewRows, distinct keys=$distinctKeys")
}
