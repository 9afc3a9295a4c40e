package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.model.{FieldDef, IndexSchema, TagField, TextField}

/**
 * The three posting relations a TEXT/TAG field can carry — the
 * reference attaches each per-field index at FT.CREATE and fans every
 * mutation out to all of them (index_schema.cc:964; text postings with
 * offsets in text_index.h:57-88, the suffix trie in suffix.h). Every
 * fact that differs between the kinds lives here, so the engine's
 * build / load / save / FT.INFO paths and the maintainer's stores each
 * run one loop over [[PostingKind.values]]:
 *
 *  - which fields get the kind ([[applies]]) and its builder ([[build]]);
 *  - its on-disk names: the posting subdirectory `<alias><suffix>` and
 *    the saved stats `<alias><statsSuffix>` beside it;
 *  - the rows its guard stats count ([[statRows]]);
 *  - its FT.INFO `attached_indexes` label.
 */
sealed abstract class PostingKind(val label: String, suffix: String,
                                  statsSuffix: String) {
  /** Whether FT.CREATE-driven builds give `fd` this kind. */
  def applies(schema: IndexSchema, fd: FieldDef): Boolean
  /** The kind's posting rows for one field of an enriched relation. */
  def build(docs: DataFrame, schema: IndexSchema, field: String): DataFrame
  /** The rows whose per-term counts price this kind's routes. */
  def statRows(posting: DataFrame): DataFrame = posting
  /** Posting subdirectory of `alias` under a postings/store dir. */
  def sub(alias: String): String = alias + suffix
  /** Saved-stats subdirectory ([[graft.engine.SearchEngine.saveIndex]],
    * `buildPostings`, `loadPostings`). */
  def statsSub(alias: String): String = alias + statsSuffix
  /** Maintainer guard-stats directory (generations `g<n>` inside) — a
    * layout of its own, next to the store. */
  def guardStatsSub(alias: String): String = sub(alias) + "__stats"
}

object PostingKind {
  /** Stem sets of TEXT fields (NOSTEM fields match original tokens,
    * which stem postings cannot serve) and normalized TAG values. */
  case object Term extends PostingKind("posting", "", "__stats") {
    def applies(schema: IndexSchema, fd: FieldDef): Boolean = fd.ftype match {
      case _: TagField => true
      case tf: TextField => !tf.noStem
      case _ => false
    }
    def build(docs: DataFrame, schema: IndexSchema, field: String): DataFrame =
      schema.fieldOrFail(field).ftype match {
        case _: TagField => PostingIndex.buildTags(docs, schema, field)
        case _ => PostingIndex.build(docs, schema, field)
      }
  }

  /** Every suffix of every token (WITHSUFFIXTRIE, suffix.h) for
    * prefix / suffix / infix patterns; stats count full tokens only. */
  case object Suffix extends PostingKind("suffix_posting", "__suffix",
      "__suffix_stats") {
    def applies(schema: IndexSchema, fd: FieldDef): Boolean = fd.ftype match {
      case tf: TextField => tf.withSuffixTrie
      case _ => false
    }
    def build(docs: DataFrame, schema: IndexSchema, field: String): DataFrame =
      PostingIndex.buildSuffixes(docs, schema, field)
    override def statRows(posting: DataFrame): DataFrame =
      posting.filter(col("full"))
  }

  /** Token positions (WITHOFFSETS, the default; ft_create_parser.cc:
    * 98-99) so phrases resolve adjacency posting-side; stats count
    * occurrences, an upper bound on document frequency. */
  case object Positional extends PostingKind("positional_posting", "__pos",
      "__pos_stats") {
    def applies(schema: IndexSchema, fd: FieldDef): Boolean =
      schema.analyzer.withOffsets && fd.ftype.isInstanceOf[TextField]
    def build(docs: DataFrame, schema: IndexSchema, field: String): DataFrame =
      PostingIndex.buildPositions(docs, schema, field)
  }

  /** In FT.INFO `attached_indexes` order. */
  val values: Seq[PostingKind] = Seq(Term, Suffix, Positional)

  /** Fields whose saved postings the restart paths probe. */
  def postable(fd: FieldDef): Boolean =
    fd.ftype.isInstanceOf[TextField] || fd.ftype.isInstanceOf[TagField]
}
