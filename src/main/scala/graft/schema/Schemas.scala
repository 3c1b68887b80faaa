package graft.schema

import java.sql.Timestamp

/** Typed row models for every pipeline boundary (SURVEY.md §1).
  * `Dataset[T]` with these case classes at module boundaries; DataFrame
  * internally where pure Column ops suffice. */

/** 1.1 — one Common-Crawl-style web page (BASELINE.json input_hint). */
case class WebPage(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Token span in token coordinates; end is INCLUSIVE like the reference's
  * `e1end = e1.end - 1` convention (`mtb_data_loader.py:568-571`). */
case class Span(start: Int, end: Int)

/** 1.4 — annotated document: tokens + flags + detected mentions.
  * Replaces the reference's opaque spaCy Doc with explicit columns. */
case class Mention(start: Int, end: Int, text: String, kind: String)

case class AnnotatedDoc(
    url: String,
    tokens: Seq[String],
    isPunct: Seq[Boolean],
    isSentEnd: Seq[Boolean],
    mentions: Seq[Mention])

/** Output triple — subj = e1 surface, pred = classified relation label,
  * obj = e2 surface (`infer.py:258-263`). */
case class Triple(subj: String, pred: String, obj: String, url: String)

/** 1.11 — one SemEval-2010 Task 8 record (4 physical lines). */
case class SemEvalExample(exampleId: Int, sentence: String, relation: String)

