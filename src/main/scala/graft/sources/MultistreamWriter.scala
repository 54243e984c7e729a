package graft.sources

/** The one writer of the `-multistream` layout contract (header stream
  * before the first page, one bz2 stream per page GROUP, footer stream
  * from `</mediawiki>`, plus the `offset:page_id:title` index) — used
  * by the q183/q184/q186 oracle constructions AND the source specs, so
  * the layout the gate tests and the layout the specs test cannot
  * drift apart (two independent writers were flagged in review). */
private[graft] object MultistreamWriter {

  /** 0-based character offsets of every `  <page>` start in `xml`. */
  def pageStarts(xml: String): Vector[Int] =
    Iterator.iterate(xml.indexOf("  <page>"))(i =>
      xml.indexOf("  <page>", i + 1)).takeWhile(_ >= 0).toVector

  /** Write `xml` as concatenated complete bz2 streams cut at the page
    * starts named by `groupHeads` (indices into `pageStarts(xml)`,
    * ascending, must include 0), plus the sibling index: one
    * `offset:page_id:title` line per page, offset = the byte position
    * of the stream holding that page's group. Slices the STRING and
    * encodes per segment, so non-ASCII dumps are handled. */
  def write(xml: String, dump: java.io.File, index: java.io.File,
      groupHeads: Seq[Int], pageIdOf: Int => Long,
      titleOf: Int => String): Unit = {
    val starts = pageStarts(xml)
    require(groupHeads.nonEmpty && groupHeads.head == 0 &&
      groupHeads.sliding(2).forall(s => s.length < 2 || s(0) < s(1)),
      "groupHeads must be ascending page ordinals starting at 0")
    val footer = xml.indexOf("</mediawiki>")
    val cuts = (0 +: groupHeads.map(starts(_)).toVector :+ footer :+ xml.length).distinct
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    val fos = new java.io.FileOutputStream(dump)
    try {
      val z = new Bz2OutputStream(fos, 1)
      for ((from, to) <- cuts.init.zip(cuts.tail)) {
        z.startStream(offsets += _)
        z.write(xml.substring(from, to).getBytes("UTF-8"))
      }
      z.finish()
    } finally fos.close()
    val pw = new java.io.PrintWriter(index, "UTF-8")
    try starts.indices.foreach { i =>
      val g = groupHeads.lastIndexWhere(_ <= i)
      pw.println(s"${offsets(1 + g)}:${pageIdOf(i)}:${titleOf(i)}")
    } finally pw.close()
  }

  /** Fixed group size (`pagesPerStream` complete pages per stream). */
  def writeGrouped(xml: String, dump: java.io.File, index: java.io.File,
      pagesPerStream: Int, pageIdOf: Int => Long,
      titleOf: Int => String): Unit = {
    val heads = pageStarts(xml).indices.grouped(pagesPerStream).map(_.head).toVector
    write(xml, dump, index, heads, pageIdOf, titleOf)
  }
}
