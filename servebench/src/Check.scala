package servebench

import java.math.{BigDecimal => JBD, MathContext}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}

/** An answer as the checker compares it: every cell normalized to a string
  * (numbers without trailing zeros, doubles to 12 significant digits), so
  * JSON, CSV, Arrow, pg-wire and DataFrame values compare equal. Unordered
  * answers compare as sorted row lists. */
final case class Answer(rows: IndexedSeq[IndexedSeq[String]], ordered: Boolean) {
  def canonical: IndexedSeq[IndexedSeq[String]] =
    if (ordered) rows else rows.sortBy(_.mkString("\u0001"))
  def digest: Digest = {
    val c = canonical
    Digest(c.length, scala.util.hashing.MurmurHash3.seqHash(c),
      c.take(2).map(_.mkString("|")).mkString("; "))
  }
}

/** What a client keeps of a response: row count, an order-aware hash of the
  * canonical rows, and a short preview for naming a mismatch. */
final case class Digest(rows: Int, hash: Int, preview: String) {
  def sameAs(o: Digest): Boolean = rows == o.rows && hash == o.hash
}

object Check {
  private val NumRe = """-?\d+(\.\d+)?([eE][-+]?\d+)?""".r
  private val Mc12 = new MathContext(12)

  def num(b: JBD): String = {
    val s = b.stripTrailingZeros
    if (s.signum == 0) "0" else s.toPlainString
  }

  /** Normalize one typed cell (DataFrame rows, Arrow vectors). */
  def norm(v: Any): String = v match {
    case null => "NULL"
    case b: JBD => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case d: Double => num(new JBD(d).round(Mc12))
    case f: Float => norm(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case other => other.toString
  }

  /** Normalize one cell that travelled as text (CSV, pg wire, KV). */
  def normText(s: String): String =
    if (s == null) "NULL"
    else if (NumRe.matches(s)) {
      val b = new JBD(s)
      if (s.contains('e') || s.contains('E')) num(b.round(Mc12)) else num(b)
    } else s

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(DeserializationFeature.USE_BIG_INTEGER_FOR_INTS)

  /** JSON array of row objects, cells in field order. */
  def fromJson(bytes: Array[Byte], ordered: Boolean): Answer = {
    val root = mapper.readTree(bytes)
    require(root != null && root.isArray, "JSON answer is not an array")
    val rows = IndexedSeq.newBuilder[IndexedSeq[String]]
    root.forEach { r =>
      val cells = IndexedSeq.newBuilder[String]
      r.forEach { c =>
        cells += (if (c.isNull) "NULL"
          else if (c.isNumber) num(new JBD(c.numberValue().toString))
          else c.asText())
      }
      rows += cells.result()
    }
    Answer(rows.result(), ordered)
  }

  /** CSV with a header line; RFC 4180 quoting. */
  def fromCsv(bytes: Array[Byte], ordered: Boolean): Answer = {
    val text = new String(bytes, "UTF-8")
    val rows = IndexedSeq.newBuilder[IndexedSeq[String]]
    var cells = IndexedSeq.newBuilder[String]
    val cell = new StringBuilder
    var i = 0
    var quoted = false
    var header = true
    var any = false
    def endCell(): Unit = { cells += normText(cell.result()); cell.clear(); any = true }
    def endRow(): Unit = {
      endCell()
      if (!header) rows += cells.result()
      header = false
      cells = IndexedSeq.newBuilder[String]
      any = false
    }
    while (i < text.length) {
      val c = text.charAt(i)
      if (quoted) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') { cell += '"'; i += 1 }
          else quoted = false
        } else cell += c
      } else c match {
        case '"' => quoted = true
        case ',' => endCell()
        case '\r' => ()
        case '\n' => endRow()
        case _ => cell += c
      }
      i += 1
    }
    if (any || cell.nonEmpty) endRow()
    Answer(rows.result(), ordered)
  }

  /** Arrow IPC stream. */
  def fromArrow(bytes: Array[Byte], ordered: Boolean): Answer = {
    val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    val rows = IndexedSeq.newBuilder[IndexedSeq[String]]
    try {
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        while (reader.loadNextBatch()) {
          val vs = root.getFieldVectors
          var r = 0
          while (r < root.getRowCount) {
            rows += IndexedSeq.tabulate(vs.size)(c => norm(vs.get(c).getObject(r)))
            r += 1
          }
        }
      } finally reader.close()
    } finally alloc.close()
    Answer(rows.result(), ordered)
  }

  def fromText(rows: Seq[Seq[String]], ordered: Boolean): Answer =
    Answer(rows.map(_.map(normText).toIndexedSeq).toIndexedSeq, ordered)

  // ---- the refresh invariant -----------------------------------------------

  /** Cumulative totals of batches 0..k of one refresh table. */
  final case class Totals(rows: Long, sum: Long)

  /** A read of `max(batch), count(*), sum(v)` must equal the cumulative
    * totals of the batch it observed: anything else is a torn or duplicated
    * read. Returns the failure, if any. */
  def refreshRead(batch: Long, rows: Long, sum: Long,
                  cum: IndexedSeq[Totals]): Option[String] =
    if (batch < 0 || batch >= cum.length) Some(s"observed unknown batch $batch")
    else if (cum(batch.toInt) != Totals(rows, sum))
      Some(s"torn read: batch $batch has ${cum(batch.toInt)}, read rows=$rows sum=$sum")
    else None

  final case class Read(id: Int, sentNs: Long, doneNs: Long, batch: Long)

  /** Reads that went back in time or lag too far behind the writer:
    *  - a read sent after another read of the same table completed must not
    *    observe an older batch (a stale read after a swap);
    *  - a read sent more than `limitNs` after batch k's commit returned must
    *    observe batch k or later.
    * `commits(k)` is the time batch k's commit returned (batch 0 at 0). */
  def staleReads(reads: Seq[Read], commits: IndexedSeq[Long],
                 limitNs: Long): Seq[(Read, String)] = {
    val byDone = reads.sortBy(_.doneNs).toArray
    var j = 0
    var seen = -1L
    val out = Seq.newBuilder[(Read, String)]
    reads.sortBy(_.sentNs).foreach { r =>
      while (j < byDone.length && byDone(j).doneNs < r.sentNs) {
        seen = math.max(seen, byDone(j).batch); j += 1
      }
      val due = commits.lastIndexWhere(c => c < r.sentNs - limitNs)
      if (r.batch < seen)
        out += r -> s"stale read: observed batch ${r.batch} after batch $seen was served"
      else if (r.batch < due)
        out += r -> (s"stale read: observed batch ${r.batch}, batch $due committed " +
          s"more than ${limitNs / 1000000} ms earlier")
    }
    out.result()
  }
}
