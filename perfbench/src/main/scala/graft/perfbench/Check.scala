package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. Each returns the failures it found (empty = pass). */
object Check {

  /** diffdb as committed: one row per generated revision, distinct
    * `rev_id`, no `diff_error`, and on sampled rows the diff ops turn
    * the previous text into the current one. */
  def diffdb(db: DataFrame, e: Gen.Expect): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    // one scan: every row's id and error flag, diffs of sampled rows only
    val ids = e.diffSamples.map(_.revId)
    val all = db.select(col("rev_id"), col("diff_error").isNotNull,
      when(col("rev_id").isin(ids: _*), col("diffs"))).collect()
    val rows = all.length.toLong
    val distinct = all.iterator.map(_.getLong(0)).toSet.size
    val errors = all.count(_.getBoolean(1))
    if (rows != e.revisions) errs += s"diffdb has $rows rows, generator wrote ${e.revisions} revisions"
    if (distinct != rows) errs += s"rev_id not distinct: $distinct distinct in $rows rows"
    if (errors != 0) errs += s"$errors rows carry a diff_error"
    val got = all.filterNot(_.isNullAt(2)).groupBy(_.getLong(0))
    for (s <- e.diffSamples) got.get(s.revId) match {
      case None => errs += s"sampled rev ${s.revId} missing from diffdb"
      case Some(rs) =>
        val ops = rs.head.getSeq[Row](2).map(o => (o.getInt(0), o.getInt(1), o.getString(2)))
        applyOps(s.prev, ops) match {
          case Right(t) if t == s.curr =>
          case Right(_) => errs += s"rev ${s.revId}: diff ops do not reproduce the current text"
          case Left(why) => errs += s"rev ${s.revId}: $why"
        }
    }
    errs.toSeq
  }

  /** Apply diff ops (positions in UTF-16 units of the new text, the
    * reference's accounting) to `prev`. */
  def applyOps(prev: String, ops: Seq[(Int, Int, String)]): Either[String, String] = {
    val sb = new java.lang.StringBuilder(prev.length + 64)
    var at = 0
    for ((pos, action, content) <- ops) {
      val eq = pos - sb.length
      if (eq < 0 || at + eq > prev.length) return Left(s"op position $pos out of range")
      sb.append(prev, at, at + eq)
      at += eq
      action match {
        case -1 =>
          if (!prev.startsWith(content, at)) return Left(s"removed content differs at $pos")
          at += content.length
        case 1 => sb.append(content)
        case a => return Left(s"unknown action $a")
      }
    }
    sb.append(prev, at, prev.length)
    Right(sb.toString)
  }

  /** The metadata aggregate equals the generator's over `copies`
    * copies of the history, exactly. */
  def meta(rows: Seq[Row], e: Gen.Expect, copies: Int): Seq[String] = {
    val got = rows.map { r =>
      (r.getInt(0), r.getString(1)) -> ((r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3), r.getLong(4)))
    }
    val errs = mutable.ArrayBuffer.empty[String]
    if (got.size != got.map(_._1).distinct.size) errs += "aggregate has duplicate keys"
    val gm = got.toMap
    if (gm.size != e.meta.size) errs += s"aggregate has ${gm.size} keys, expected ${e.meta.size}"
    val want = e.meta.map { case (k, (n, gaps, ids)) => k -> ((copies * n, copies * gaps, copies * ids)) }
    val wrong = want.iterator.filter { case (k, v) => !gm.get(k).contains(v) }.take(3).toSeq
    wrong.foreach { case (k, v) => errs += s"aggregate[$k] = ${gm.get(k)}, expected $v" }
    errs.toSeq
  }

  /** The written archive holds every article revision once, and a
    * page-id lookup through the index returns the generated revisions
    * of those pages. */
  def multistream(spark: SparkSession, out: File, e: Gen.Expect): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val files = Option(out.listFiles()).getOrElse(Array.empty[File]).map(_.getName)
    if (!files.exists(_.endsWith(".xml.bz2")) || !files.exists(_.endsWith("-index.txt")))
      return Seq(s"no multistream archive with index in $out")
    val df = spark.read.format("mediawiki").option("previousRevision", "false").load(out.getAbsolutePath)
    // one scan, no shuffle: the (page, revision) ids are collected
    val ids = df.select(col("page_id"), col("curr.rev_id")).collect()
    val wantRevs = e.nsRevisions.getOrElse(0, 0L)
    val wantPages = e.nsPages.getOrElse(0, 0L)
    if (ids.length != wantRevs) errs += s"archive has ${ids.length} revisions, expected $wantRevs"
    if (ids.map(_.getLong(1)).distinct.length != ids.length) errs += s"rev_id not distinct in the archive"
    val pages = ids.map(_.getLong(0)).distinct.length
    if (pages != wantPages) errs += s"archive has $pages pages, expected $wantPages"
    errs ++= readBack(df, e)
    errs.toSeq
  }

  def readBack(archive: DataFrame, e: Gen.Expect): Seq[String] = {
    val ids = e.readBack.keys.toSeq.sorted
    val got = archive.where(col("page_id").isin(ids: _*))
      .select(col("page_id"), col("rev_seq"), col("curr.rev_id"), col("curr.text")).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) =>
        k -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), if (r.isNullAt(3)) null else r.getString(3))).toSeq
      }
    ids.flatMap { id =>
      val want = e.readBack(id)
      got.get(id) match {
        case None => Some(s"read-back of page $id returned nothing")
        case Some(g) if g != want => Some(s"read-back of page $id differs (${g.size} revisions, expected ${want.size})")
        case _ => None
      }
    }
  }
}
