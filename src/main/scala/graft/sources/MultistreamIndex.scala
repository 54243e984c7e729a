package graft.sources

import java.util.regex.Pattern

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory

/** Index-assisted planning for Wikipedia's `-multistream` dump layout.
  *
  * The most common public dump (`pages-articles-multistream.xml.bz2`)
  * is MANY complete bz2 streams back-to-back, published with a sibling
  * index (`...-multistream-index.txt.bz2`) of `offset:page_id:title`
  * lines — one line per page, `offset` the byte position of the bz2
  * stream holding it (~100 pages/stream). The layout contract: every
  * page lives entirely inside one stream, and every page is indexed.
  *
  * When an index is found (explicit `multistreamIndex` option, or the
  * naming-convention sibling; `multistreamIndex=off` disables), planning
  * reads it in ONE driver pass (O(#streams) memory — offsets and one
  * boolean each, never the titles; enwiki's ~240 MB index is a few
  * seconds of driver I/O against hours of cluster decompression,
  * memoized per file state so repeated actions pay it once) and:
  *
  *  1. places partition boundaries at exact stream starts (block
  *     boundaries by construction, so the BYBLOCK ownership rule is
  *     unchanged — correctness never depends on the index being right,
  *     only boundary QUALITY does);
  *  2. SKIPS whole streams that provably produce no output BEFORE any
  *     byte of them is decompressed. The skip decisions form a trust
  *     ladder, weakest assumption first:
  *
  *     - **title / page_id predicates**: trusts only the layout
  *       contract (all pages indexed, true ids/titles). Both sides
  *       compare DECODED titles — the reader's parse unescapes the five
  *       named entities AND numeric character references
  *       ([[XmlFields.unescapeToU8]]), so no escaping choice can make the
  *       planner and the reader disagree.
  *     - **ns predicates** (eq/IN): additionally trusts the MediaWiki
  *       layout invariant that a present `<ns>` agrees with the title's
  *       siteinfo namespace prefix (both derive from the same page row
  *       in every MediaWiki-produced dump). Pages with an ABSENT `<ns>`
  *       are safe under ANY classification: the reader drops them under
  *       every pushed ns predicate regardless (NULL matches nothing).
  *       Only engages when the dump's complete `<siteinfo>` head parses
  *       (namespace names come from the header stream); a dump whose
  *       `<ns>` contradicts its title prefixes must be read with
  *       `multistreamIndex=off`.
  *     - **`excludePagesWith` literal `<title>PREFIX` patterns**:
  *       OPT-IN via `multistreamSkipExcluded=true`. The reader's
  *       exclude regex runs on the RAW header bytes (reference
  *       semantics, `StreamWikiDumpInputFormat.java:124`), so
  *       equivalence with the index's decoded titles additionally
  *       requires the dump to use the standard XML escaper — a legal
  *       dump spelling a title with numeric character references
  *       (`&#67;ategory:X`) is kept by the reader but decoded-excluded
  *       by the index (ADVICE r12). Wikimedia dumps satisfy the
  *       contract; by default exclusions no longer skip streams (the
  *       reader still applies the regex, so results are identical,
  *       just without the pre-decompression skip).
  *
  * Any malformed index line, unsorted offset, or failed stream-magic
  * probe abandons the index entirely (size-based planning takes over) —
  * a half-trusted index could silently drop pages. Malformed USER
  * options (`multistreamTargetBytes`) and malformed INTERNAL filter
  * props fail loudly instead: the reader parses the same props, so a
  * silent fallback could not save the query and would only hide the
  * bug (ADVICE r12).
  */
object MultistreamIndex {

  /** Resolve the index path: explicit option wins; `off`/`false`
    * disables; otherwise try the Wikipedia naming convention
    * (`X.xml.bz2` → `X-index.txt.bz2` / `X-index.txt`). */
  def locate(fs: FileSystem, dump: Path, props: Map[String, String]): Option[Path] =
    props.get("multistreamIndex").map(_.trim) match {
      case Some(v) if v.equalsIgnoreCase("off") || v.equalsIgnoreCase("false") => None
      case Some(v) if v.nonEmpty =>
        // an explicit path must exist — silent fallback would mask a typo
        val p = new Path(v)
        require(fs.exists(p), s"multistreamIndex path does not exist: $v")
        Some(p)
      case _ =>
        dumpStem(dump.getName).flatMap { stem =>
          Seq(s"$stem-index.txt.bz2", s"$stem-index.txt")
            .map(new Path(dump.getParent, _))
            .find(fs.exists)
        }
    }

  /** The naming-convention stem of a bz2 dump name (`X.xml.bz2` → `X`,
    * `X.bz2` → `X`), or None for non-bz2 names. ONE definition shared
    * by `locate` and `isIndexSibling` so auto-discovery and the listing
    * skip can never disagree about which dumps have index siblings
    * (ADVICE r13: a dump named `dump.bz2` had its `dump-index.txt`
    * sibling scanned as a dump because the skip only knew `.xml.bz2`). */
  private def dumpStem(name: String): Option[String] =
    if (name.endsWith(".xml.bz2")) Some(name.dropRight(".xml.bz2".length))
    else if (name.endsWith(".bz2")) Some(name.dropRight(".bz2".length))
    else None

  /** Is `name` the `-index.txt(.bz2)` naming-convention sibling of a
    * dump that is ALSO present (per `present`)? Directory listings skip
    * such files — the index is planning metadata, not a dump; scanning
    * it yields zero pages but costs a full decompression pass and
    * pollutes the pagesRead/pagesSkipped metrics (ADVICE r12). */
  def isIndexSibling(name: String, present: String => Boolean): Boolean = {
    val stem =
      if (name.endsWith("-index.txt")) Some(name.dropRight("-index.txt".length))
      else if (name.endsWith("-index.txt.bz2")) Some(name.dropRight("-index.txt.bz2".length))
      else None
    // mirror of dumpStem: any bz2 extension the source accepts counts
    stem.exists(s => s.nonEmpty && (present(s + ".xml.bz2") || present(s + ".bz2")))
  }

  /** Map `excludePagesWith` to a title-prefix test when (and only when)
    * that is provably equivalent FOR STANDARD-ESCAPED DUMPS: pattern is
    * literally `<title>PREFIX` with PREFIX free of regex metacharacters
    * AND of XML-escapable characters. The raw header contains
    * `<title>ESCAPED</title>`; for an escape-free prefix under the
    * standard escaper, `escaped.startsWith(prefix)` ≡
    * `unescaped.startsWith(prefix)` (escaping only rewrites characters
    * the prefix cannot contain), and `<` occurs nowhere else unescaped,
    * so a find-anywhere match of `<title>PREFIX` ≡ the title prefix
    * test the index can answer. A NON-standard escaper (numeric
    * character references in the title) breaks the equivalence — which
    * is why callers additionally gate this on `multistreamSkipExcluded`
    * (see the object Scaladoc). Anything else → None (no
    * exclusion-based skipping; the reader still applies the regex). */
  private[sources] def excludeAsTitlePrefix(pattern: String): Option[String] = {
    if (!pattern.startsWith("<title>")) return None
    val prefix = pattern.substring("<title>".length)
    val unsafe = ".^$|?*+()[]{}\\&<>\"'"
    if (prefix.isEmpty || prefix.exists(unsafe.contains(_))) None else Some(prefix)
  }

  /** Namespace map for SKIP decisions, or None unless the head parse
    * is provably complete: the `</siteinfo>` marker must appear within
    * the cap (a truncated namespaces block is missing entries) AND
    * every `<namespace` element must parse (strict — a skipped entry
    * would misclassify its pages as main-ns and could drop a live
    * stream). Shares [[XmlFields.siteinfoHead]] and the
    * attribute-order/quote-robust element parse with
    * [[graft.MediaWiki.siteinfoNamespaces]]. */
  private def siteinfoNamespacesForSkip(fs: FileSystem,
      codecs: CompressionCodecFactory, dump: Path): Option[Map[Int, String]] = {
    try {
      val (head, found) = XmlFields.siteinfoHead(fs, codecs, dump)
      if (!found) None else XmlFields.siteinfoNamespacesStrict(head)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Memoized plan results (ADVICE r12: plan() used to re-read the
    * whole index on EVERY action — seconds of driver I/O per action at
    * enwiki scale). Keyed by the full file state of dump AND index
    * (path, modTime, length) plus every prop the plan depends on (as a
    * STRUCTURAL Seq — a concatenated-string key would let a filter
    * value containing the separator collide with a different filter
    * set; review r13), so a rewritten file or a different filter set
    * misses. Negative results (index invalid → size-based planning)
    * are memoized too: a transient I/O failure then sticks to size
    * planning until the file state changes — slower, never wrong.
    * Entries whose newest modTime is within MemoSettleMs of now are
    * computed but NOT stored: modTime granularity is 1 ms (1 s on some
    * filesystems), so a same-length in-place rewrite inside one tick
    * would otherwise serve the OLD file's skip decisions — and skipped
    * ranges are never read, so that stale hit would be wrong, not
    * slow. */
  private final case class PlanKey(dump: String, dumpMod: Long, dumpLen: Long,
      idx: String, idxMod: Long, idxLen: Long, maxBytes: Long,
      filters: Seq[(String, String)])
  /** Access-ordered LRU, NOT a clear-on-overflow map: a directory of
    * N dumps × M filter-sets with N·M > capacity used to thrash —
    * every overflowing plan re-read EVERY index (~2-12 s each at
    * enwiki scale, r13 probe). Eviction now drops only the
    * least-recently-used entry. Guarded by its own lock because
    * `plan()` runs under MediaWikiScan's bounded planning pool. */
  private val MemoMax = 256
  private val memo =
    new java.util.LinkedHashMap[PlanKey, Option[Seq[MediaWikiInputPartition]]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[PlanKey, Option[Seq[MediaWikiInputPartition]]]): Boolean =
        size() > MemoMax
    }
  private def memoGet(k: PlanKey): Option[Seq[MediaWikiInputPartition]] =
    memo.synchronized(memo.get(k))
  private def memoPut(k: PlanKey, v: Option[Seq[MediaWikiInputPartition]]): Unit =
    memo.synchronized { memo.put(k, v); () }
  /** Test hook: current number of live memo entries. */
  private[graft] def memoSize: Int = memo.synchronized(memo.size)
  private val MemoSettleMs = 2000L

  private def relevantProps(props: Map[String, String]): Seq[(String, String)] =
    props.iterator.filter { case (k, _) =>
      k.startsWith("__") || k == "excludePagesWith" || k == "multistreamSkipExcluded"
    }.toSeq.sorted

  /** Plan partitions for `dump` from its index, or None if the index is
    * absent, disabled, or fails validation (size-based planning takes
    * over). See the object Scaladoc for the skip-decision trust ladder
    * and the loud-failure contract for malformed props. */
  def plan(fs: FileSystem, codecs: CompressionCodecFactory, dump: Path,
      fileLen: Long, maxBytes: Long,
      props: Map[String, String]): Option[Seq[MediaWikiInputPartition]] = {
    val idx = locate(fs, dump, props).getOrElse(return None)
    // user options parse BEFORE the index read: a malformed value fails
    // fast and loudly (the documented fallback is for INDEX validation)
    val effMax = math.max(props.get("multistreamTargetBytes").map { v =>
      try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"multistreamTargetBytes must be a long, got '$v'")
      }
    }.getOrElse(maxBytes), 1L)
    val key = try {
      val ds = fs.getFileStatus(dump)
      val is = fs.getFileStatus(idx)
      PlanKey(dump.toString, ds.getModificationTime, ds.getLen,
        idx.toString, is.getModificationTime, is.getLen, effMax,
        relevantProps(props))
    } catch { case scala.util.control.NonFatal(_) => null }
    if (key != null) {
      val hit = memoGet(key)
      if (hit != null) return hit
    }
    val result = computePlan(fs, codecs, dump, idx, fileLen, effMax, props)
    // settle guard: never CACHE a plan for files modified within the
    // modTime tick window — see the PlanKey Scaladoc's stale-positive
    // argument (compute-always is the safe direction; production dumps
    // are old files, so they always memoize)
    val settled = key != null &&
      System.currentTimeMillis() - math.max(key.dumpMod, key.idxMod) > MemoSettleMs
    if (settled) memoPut(key, result)
    result
  }

  private def computePlan(fs: FileSystem, codecs: CompressionCodecFactory,
      dump: Path, idx: Path, fileLen: Long, effMax: Long,
      props: Map[String, String]): Option[Seq[MediaWikiInputPartition]] = {
    val preds = PageIdFilter.titlePredsFromProps(props)
    val idPred = PageIdFilter.fromProps(props)
    val nsPred = PageIdFilter.nsFromProps(props)
    // ns classification from the indexed title's namespace prefix —
    // names from the header stream's siteinfo; None (no ns skipping)
    // unless the COMPLETE head parses strictly AND every ns key the
    // pushed conjunction can accept is classifiable (k == 0 or a
    // declared namespace): a key the classifier can never produce
    // would mark every stream dead (review r13). See the trust ladder.
    val nsTest: Option[String => Boolean] = nsPred.flatMap { p =>
      siteinfoNamespacesForSkip(fs, codecs, dump).flatMap { nsMap =>
        val classifiable = PageIdFilter.nsAcceptKeys(props)
          .forall(_.forall(k => k == 0 || nsMap.contains(k)))
        if (!classifiable) None
        else {
          val byName = graft.MediaWiki.namespacesByName(nsMap)
          Some { (t: String) =>
            val c = t.indexOf(':')
            val ns = if (c <= 0) 0
              else byName.getOrElse(
                t.substring(0, c).toLowerCase(java.util.Locale.ROOT), 0)
            p(ns)
          }
        }
      }
    }
    val skipExcluded =
      props.get("multistreamSkipExcluded").exists(_.equalsIgnoreCase("true"))
    val excludePrefix =
      if (!skipExcluded) None
      else props.get("excludePagesWith").filter(_.nonEmpty)
        .flatMap(excludeAsTitlePrefix)
    val canFilter = preds.nonEmpty || idPred.isDefined || nsTest.isDefined ||
      excludePrefix.isDefined
    // one pass: distinct offsets in file order + per-stream liveness
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    val live = scala.collection.mutable.ArrayBuffer[Boolean]()
    try {
      val raw = fs.open(idx)
      val in = Option(codecs.getCodec(idx))
        .map(c => c.createInputStream(raw): java.io.InputStream).getOrElse(raw)
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      try {
        var line = reader.readLine()
        while (line != null) {
          if (line.nonEmpty) {
            val parts = line.split(":", 3)
            if (parts.length != 3) return None
            val off = try parts(0).toLong catch { case _: NumberFormatException => return None }
            if (off < 0 || off >= fileLen) return None
            val pageId = try parts(1).toLong catch { case _: NumberFormatException => return None }
            val title = parts(2)
            if (offsets.isEmpty || offsets.last != off) {
              if (offsets.nonEmpty && off < offsets.last) return None // unsorted
              offsets += off
              live += !canFilter
            }
            if (canFilter && !live(live.length - 1)) {
              val passes = preds.forall(_(title)) &&
                idPred.forall(_(pageId)) &&
                nsTest.forall(_(title)) &&
                !excludePrefix.exists(title.startsWith)
              if (passes) live(live.length - 1) = true
            }
          }
          line = reader.readLine()
        }
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => return None }
    if (offsets.isEmpty || offsets.head == 0L) return None // header stream must precede
    // cheap index-matches-dump probe: the first and last claimed stream
    // starts must carry the bz2 magic
    try {
      val probe = fs.open(dump)
      try {
        val buf = new Array[Byte](3)
        for (off <- Seq(offsets.head, offsets.last)) {
          probe.readFully(off, buf)
          if (!(buf(0) == 'B' && buf(1) == 'Z' && buf(2) == 'h')) return None
        }
      } finally probe.close()
    } catch { case scala.util.control.NonFatal(_) => return None }
    // group CONSECUTIVE live streams into ~effMax partitions (the
    // `multistreamTargetBytes` option overrides the size-based budget —
    // stream-aligned granularity without touching the session conf); a
    // dead stream (or the size budget) closes the open group. The header
    // stream [0, first offset) holds siteinfo and no pages — merged
    // into the first partition when stream 1 is live, skippable with it
    // otherwise (dropping it never drops pages, by the contract).
    val bounds = offsets.toIndexedSeq :+ fileLen
    val parts = scala.collection.mutable.ArrayBuffer[MediaWikiInputPartition]()
    var groupStart = -1L
    var groupBytes = 0L
    def close(end: Long): Unit = {
      if (groupStart >= 0)
        parts += MediaWikiInputPartition(dump.toString, groupStart, end, fileLen)
      groupStart = -1L; groupBytes = 0L
    }
    var i = 0
    while (i < offsets.length) {
      val s = bounds(i); val e = bounds(i + 1)
      if (!live(i)) close(s)
      else {
        if (groupStart < 0) { groupStart = if (i == 0) 0L else s; groupBytes = 0L }
        groupBytes += e - s
        if (groupBytes >= effMax) close(e)
      }
      i += 1
    }
    close(fileLen)
    Some(parts.toSeq)
  }
}
