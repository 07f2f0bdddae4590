package graft.exec

import scala.jdk.CollectionConverters._

/** Read access to the engine's statement log (`system.query_log`), which is
  * package-private: the server-side wall of one finished statement. */
object PerfbenchQueryLog {
  /** Duration in ms of the newest logged run of `query` that started within
    * [fromMs, toMs] (epoch ms). The log keeps milliseconds. */
  def durationMs(query: String, fromMs: Long, toMs: Long): Option[Double] =
    GraftSession.queryLog.iterator.asScala
      .find(e => e.query == query && e.startMs >= fromMs && e.startMs <= toMs)
      .map(_.durSec * 1000)
}
