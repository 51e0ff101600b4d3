package graft.sources

import graft.model.DocElement
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import scala.reflect.runtime.universe.TypeTag

/** The reader layer's shared contract, defined once: every document
  * reader (markdown, HTML, DOCX, XLSX, PPTX, PDF, the format-sniffing
  * router and the fused streaming chunker) turns one document row into
  * N rows through [[text]] or [[binary]], numbers its blocks through
  * [[numbered]] or [[paged]], and renders tables and normalizes
  * whitespace through [[tableFromGrid]] and [[collapse]] — so batch
  * and stream readers cannot drift apart on any of these.
  */
private[graft] object ElementFrame {

  /** documents(id, text, [page], meta...) → one typed flatMap: the
    * per-document function sees the id, the text (`""` when null), the
    * row's page (None without `pageCol` or when null) and the metadata
    * map (null values left out). Narrow, shuffle-free, stream-legal. */
  def text[T <: Product : TypeTag](documents: DataFrame, idCol: String,
      textCol: String, pageCol: Option[String], metaCols: Seq[String])(
      perDoc: (Long, String, Option[Int], Map[String, String]) => Seq[T]): Dataset[T] =
    frame(documents, idCol, textCol, "string", "", pageCol, metaCols)(perDoc)

  /** [[text]] for a binary content column (empty bytes when null). */
  def binary[T <: Product : TypeTag](documents: DataFrame, idCol: String,
      contentCol: String, pageCol: Option[String], metaCols: Seq[String])(
      perDoc: (Long, Array[Byte], Option[Int], Map[String, String]) => Seq[T]): Dataset[T] =
    frame(documents, idCol, contentCol, "binary", Array.emptyByteArray,
      pageCol, metaCols)(perDoc)

  private def frame[C, T <: Product : TypeTag](documents: DataFrame,
      idCol: String, contentCol: String, contentType: String, empty: C,
      pageCol: Option[String], metaCols: Seq[String])(
      perDoc: (Long, C, Option[Int], Map[String, String]) => Seq[T]): Dataset[T] = {
    val metaNames = metaCols // stable copy captured by the closure
    val hasPage = pageCol.isDefined
    val metaOffset = if (hasPage) 3 else 2
    documents.select(
      Seq(col(idCol).cast("long"), col(contentCol).cast(contentType)) ++
        pageCol.map(c => col(c).cast("int")).toSeq ++
        metaNames.map(c => col(c).cast("string")): _*)
      .flatMap { row =>
        val id = row.getLong(0)
        val content = if (row.isNullAt(1)) empty else row.getAs[C](1)
        val page = if (hasPage && !row.isNullAt(2)) Some(row.getInt(2)) else None
        val meta = metaNames.zipWithIndex.collect {
          case (name, i) if !row.isNullAt(metaOffset + i) =>
            name -> row.getString(metaOffset + i)
        }.toMap
        perDoc(id, content, page, meta)
      }(Encoders.product[T])
  }

  /** One document's (kind, level, markdown, text) blocks as element
    * rows: `seq` = block index, every block on `page`. */
  def numbered(id: Long, blocks: Seq[(String, Int, String, String)],
               page: Option[Int], meta: Map[String, String]): Seq[DocElement] =
    blocks.zipWithIndex.map { case ((kind, level, md, txt), seq) =>
      DocElement(id, seq, kind, level, md, txt, page, meta)
    }

  /** [[numbered]] for formats whose blocks carry their own page (PDF
    * page, PPTX slide). */
  def paged(id: Long, blocks: Seq[(String, Int, String, String, Int)],
            meta: Map[String, String]): Seq[DocElement] =
    blocks.zipWithIndex.map { case ((kind, level, md, txt, page), seq) =>
      DocElement(id, seq, kind, level, md, txt, Some(page), meta)
    }

  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  /** Collapse whitespace runs — the shared cell/paragraph text
    * normalization all readers apply. */
  def collapse(s: String): String = WsRun.matcher(s).replaceAll(" ").trim

  /** Render a grid of (markdown, text) cells as one pipe-markdown
    * table element: first row is the header, `---` separator, cells
    * joined for text — the one table render of the DOCX, HTML, XLSX,
    * PPTX and PDF table paths. None when the grid is empty. */
  def tableFromGrid(rows: Seq[Seq[(String, String)]])
      : Option[(String, Int, String, String)] = {
    val nonEmpty = rows.filter(_.nonEmpty)
    if (nonEmpty.isEmpty) return None
    val header = nonEmpty.head
    val md = new StringBuilder
    md.append(header.map(_._1).mkString("| ", " | ", " |")).append('\n')
    md.append(Seq.fill(header.size)("---").mkString("| ", " | ", " |"))
    nonEmpty.tail.foreach { r =>
      md.append('\n').append(r.map(_._1).mkString("| ", " | ", " |"))
    }
    val text = collapse(nonEmpty.flatMap(_.map(_._2)).filter(_.nonEmpty).mkString(" "))
    Some(("table", 0, md.toString, text))
  }
}
