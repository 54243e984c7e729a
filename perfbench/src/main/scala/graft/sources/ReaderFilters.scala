package graft.sources

import java.util.regex.Pattern

/** The page filters `MediaWikiPartitionReader` derives from its props,
  * decoded by the reader's own (package-private) decoders, so the
  * benchmark's isolated layer timings filter exactly as the reader. */
object ReaderFilters {
  final case class Filters(
      exclude: Option[Pattern],
      title: Option[String => Boolean],
      pageId: Option[Long => Boolean],
      ns: Option[Int => Boolean])

  def fromProps(props: Map[String, String]): Filters = {
    val preds = PageIdFilter.titlePredsFromProps(props)
    Filters(
      props.get("excludePagesWith").filter(_.nonEmpty).map(Pattern.compile),
      if (preds.isEmpty) None else Some(t => preds.forall(p => p(t))),
      PageIdFilter.fromProps(props),
      PageIdFilter.nsFromProps(props))
  }
}
