package graft

/** Targeted suppression of ONE known-benign error class in the
  * harness mains' artifacts: the DAGScheduler's "Failed to update
  * accumulator" stack traces fire when a lineage-cut frame
  * (localCheckpoint in DedupIndex/Streams/mpScored) is unpersisted
  * while a straggler task-end event is still draining — the task
  * succeeded, the metric owner is simply gone (rc 0, zero query
  * failures every round it appeared). Left unfiltered it trains
  * artifact readers to ignore ERROR tails; the filter is scoped to
  * the ONE message (RegexFilter full-matches the formatted text), so
  * any real DAGScheduler error still surfaces. Installed on the ROOT
  * logger config as a pure filter — installing a named LoggerConfig
  * would pin that logger's LEVEL and silently widen or narrow what
  * the main's setLogLevel choice lets through (a review finding: the
  * first version suppressed all DAGScheduler WARNs under Verify's
  * WARN root). Library code never installs this — only
  * [[GraftSession]], the mains' factory, whose stdout/stderr become
  * committed artifacts. */
object LogHygiene {
  def suppressKnownBenign(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.filter.RegexFilter
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addFilter(
      RegexFilter.createFilter(
        "(?s)Failed to update accumulator.*", null, false,
        Filter.Result.DENY, Filter.Result.NEUTRAL))
    ctx.updateLoggers()
  }
}
