package graft.model

/** Core data model of the Spark-native crawler engine.
  *
  * Mirrors the reference's table shapes (see /root/reference DDL at
  * doc/sql/Wikipedia-tables.sql:3-117) re-expressed as nested, typed rows:
  * sections + images interleave into one `spans` array per document
  * (input_hint: (doc_id string, spans array<struct<kind,text,media_ref,offset>>)).
  */

/** One interleaved span of a document.
  * kind ∈ {section, image}; text = section content or image caption;
  * media_ref = "" for sections, canonical image URL for images;
  * offset = 1-based dense DISPLAY_ORDER within its kind stream
  * (reference: wikipedia_page_writer.py:341-355, wikipedia_images.py:684-693). */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** An interleaved text+media document keyed by doc_id = "qid:lang". */
final case class Doc(doc_id: String, spans: Seq[Span])

/** Result of one synthetic fetch+parse of a crawl unit (entity × lang).
  * Mirrors the payload dict of wikipedia_page_writer.py:80-90. */
final case class FetchResult(
    doc_id: String,
    url: String,
    host: String,
    httpStatus: Int,
    success: Boolean,
    hasContent: Boolean,
    pageTitle: String,
    mainImageUrl: String,
    spans: Seq[Span])
