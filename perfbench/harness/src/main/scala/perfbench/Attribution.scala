package perfbench

/** Maps a Spark call site to the engine module whose code issued it.
  *
  * A long-form call site is the driver stack recorded when an action
  * started, innermost frame first, one `StackTraceElement` per line
  * (optionally prefixed by a class-loader/module name and `/`). The
  * module is the package segment after `graft.` of the innermost frame
  * that lives in a `graft.<module>` package. Frames of top-level
  * `graft.X` objects (the mains) name no module and are skipped.
  */
object Attribution {

  /** The layer that owns work whose call site names no engine module:
    * lazy pipeline work executed by the benchmark's terminal action.
    */
  val Default = "bench"

  private val ModuleFrame =
    """^(?:at\s+)?(?:[^\s/]*/)*graft\.([a-z][a-z0-9_]*)\.[A-Za-z_$]""".r

  /** Module of the innermost `graft.<module>` frame, if any. */
  def module(callSite: String): Option[String] =
    callSite.linesIterator
      .flatMap(l => ModuleFrame.findPrefixMatchOf(l.trim).map(_.group(1)))
      .nextOption()

  /** Attribution rule: the SQL execution's call site first, then the
    * job's own call site, else [[Default]].
    */
  def attribute(executionSite: Option[String], jobSite: Option[String]): String =
    executionSite.flatMap(module)
      .orElse(jobSite.flatMap(module))
      .getOrElse(Default)
}
