package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.ref_lit
import graft.model._
import graft.query._
import graft.text.Analyzer

/**
 * Compiles a [[Predicate]] tree to a single Catalyst `Column`.
 *
 * NULL discipline: leaves compile to PLAIN three-valued predicates —
 * in a positive context `filter(NULL)` and `filter(false)` drop the
 * row identically, and an un-wrapped `col >= x` conjunct reaches the
 * Parquet scan as a pushed filter (row-group min/max pruning; a
 * `coalesce(...)` wrapper would disqualify it). Strictness is forced
 * only where three-valued logic actually diverges: at `Not`
 * boundaries, `!coalesce(child, false)` reproduces the reference's
 * "negation includes documents missing the field" semantics
 * (search-query.md:203-207, src/query/predicate.cc Negate evaluation).
 *
 * Conjunctions of numeric/tag leaves therefore reach the scan as
 * PushedFilters and Catalyst orders them by selectivity, which
 * subsumes the reference's min-cardinality index selection
 * (src/query/search.cc:336-347, SURVEY §2.3 X2).
 *
 * Range bounds are [[graft.functions.RefLiteral]]s: still `Literal`s to
 * every optimizer rule, to the Parquet filter translation (the bounds
 * stay in PushedFilters) and to the in-memory scan's batch-stats filter,
 * but generated code reads them by reference, so a range with new bounds
 * reuses the classes compiled for the first range of its shape instead
 * of compiling them again (the codegen cache is keyed by source). Over a
 * column cast from INT, Spark's `UnwrapCastInBinaryComparison` replaces
 * the bound with a plain int literal, which is inlined again.
 */
class PredicateCompiler(schema: IndexSchema, analyzer: Analyzer.Config = Analyzer.Default) {

  def compile(p: Predicate): Column = strict(p)

  private def strict(p: Predicate): Column = p match {
    case MatchAll => lit(true)

    case NumericRange(field, min, minIncl, max, maxIncl) =>
      val fd = schema.fieldOrFail(field)
      require(fd.ftype == NumericField, s"$field is not NUMERIC")
      val c = col(fd.alias)
      // an open bound still requires the field to be PRESENT — in the
      // reference `[-inf +inf]` walks the numeric index, which only
      // holds keys whose value parsed (numeric_index_test.cc:87-109);
      // a bare lit(true) would also admit missing/invalid-data docs
      val lo =
        if (min == Double.NegativeInfinity) c.isNotNull
        else if (minIncl) c >= ref_lit(min) else c > ref_lit(min)
      val hi =
        if (max == Double.PositiveInfinity) c.isNotNull
        else if (maxIncl) c <= ref_lit(max) else c < ref_lit(max)
      lo && hi

    case TagMatch(field, patterns) =>
      val fd = schema.fieldOrFail(field)
      val caseSensitive = fd.ftype match {
        case TagField(_, cs) => cs
        case _ => throw new IllegalArgumentException(s"$field is not TAG")
      }
      val tags = col(schema.tagsCol(field))
      def norm(s: String) = if (caseSensitive) s else Analyzer.asciiLower(s)
      val exactVals = patterns.filter(!_.isPrefix).map(p => norm(p.value.trim))
      val prefixVals = patterns.filter(_.isPrefix).map(p => norm(p.value.trim))
      val exactCond =
        if (exactVals.isEmpty) lit(false)
        else if (exactVals.size == 1) array_contains(tags, exactVals.head)
        else arrays_overlap(tags, lit(exactVals.toArray))
      // one compiled pass for ALL prefixes — the exists/startsWith HOF
      // chain ran interpreted per (tag × prefix × row) and pushed the
      // whole Filter out of codegen (graft.functions.AnyPrefixMatch)
      val prefixCond =
        if (prefixVals.isEmpty) lit(false)
        else graft.functions.any_prefix_match(tags, prefixVals)
      exactCond || prefixCond

    case t: TextPredicate => compileText(t)

    case And(children) => children.map(strict).reduce(_ && _)
    case Or(children) => children.map(strict).reduce(_ || _)
    // NOT-includes-missing: NULL child must negate to TRUE, so force
    // strictness exactly here and nowhere else (keeps leaves pushable).
    case Not(child) => !coalesce(strict(child), lit(false))
  }

  /** Unfielded text predicates search every TEXT field (search-query.md:149). */
  private def textFieldsOf(field: Option[String]): Seq[FieldDef] = field match {
    case Some(f) =>
      val fd = schema.fieldOrFail(f)
      require(fd.ftype.isInstanceOf[TextField], s"$f is not TEXT")
      Seq(fd)
    case None =>
      val tfs = schema.textFields
      require(tfs.nonEmpty, s"index ${schema.name} has no TEXT fields")
      tfs
  }

  private def overTextFields(field: Option[String])(one: FieldDef => Column): Column =
    textFieldsOf(field).map(fd => coalesce(one(fd), lit(false))).reduce(_ || _)

  /**
   * Suffix-trie-backed target resolution (reference filter_parser.cc:
   * 782-815 `SetupTextFieldConfiguration(with_suffix=true)`): a fielded
   * suffix search on a NOSUFFIXTRIE field is an error; an unfielded one
   * searches ONLY the WITHSUFFIXTRIE text fields and errors when the
   * index has none. Same messages as the reference. Applied to Suffix
   * and to Infix — the reference rejects infix outright today
   * ("Unsupported query operation", filter_parser.cc:745); supporting
   * it under the suffix-trie rules is this engine's extension.
   */
  private def suffixFieldsOf(field: Option[String]): Seq[FieldDef] = {
    def hasTrie(fd: FieldDef) = fd.ftype match {
      case tf: TextField => tf.withSuffixTrie
      case _ => false
    }
    field match {
      case Some(f) =>
        val fd = schema.fieldOrFail(f)
        require(fd.ftype.isInstanceOf[TextField], s"$f is not TEXT")
        if (!hasTrie(fd))
          throw new IllegalArgumentException("Field does not support suffix search")
        Seq(fd)
      case None =>
        val tfs = schema.textFields.filter(hasTrie)
        if (tfs.isEmpty)
          throw new IllegalArgumentException("No fields support suffix search")
        tfs
    }
  }

  private def overSuffixFields(field: Option[String])(one: FieldDef => Column): Column =
    suffixFieldsOf(field).map(fd => coalesce(one(fd), lit(false))).reduce(_ || _)

  // Pattern matchers run as ONE native pass over the token-struct array
  // (graft.functions.TokenMatch) — the transform+exists HOF pair
  // interprets two lambdas per (token × row).
  private def tokenMatch(fd: FieldDef, pattern: String,
                         mode: graft.functions.TokenMatch.Mode,
                         maxDist: Int = 0): Column =
    graft.functions.token_match(col(schema.tokensCol(fd.alias)),
      pattern, mode, maxDist)

  private def compileText(t: TextPredicate): Column = t match {
    case Term(field, word) =>
      val w = Analyzer.caseFold(word, analyzer)
      if (analyzer.stopWords.contains(w))
        // Stop-word terms are removed from the query (search-query.md:152).
        lit(true)
      else overTextFields(field) { fd =>
        val noStemField = fd.ftype match {
          case tf: TextField => tf.noStem
          case _ => false
        }
        if (analyzer.stem && !noStemField)
          array_contains(col(s"__${fd.alias}__terms"),
            Analyzer.stemToken(w, analyzer))
        else
          // No stemming in play (VERBATIM query, NOSTEM index or field):
          // match the ORIGINAL tokens — the reference's verbatim
          // semantics hit the indexed words, not the stem groups, so on
          // a stemmed index the stem set (merge→merg) is not consulted.
          tokenMatch(fd, w, graft.functions.TokenMatch.Exact)
      }
    case Prefix(field, p) =>
      val pl = Analyzer.caseFold(p, analyzer)
      overTextFields(field)(tokenMatch(_, pl, graft.functions.TokenMatch.Prefix))
    case Suffix(field, sfx) =>
      val sl = Analyzer.caseFold(sfx, analyzer)
      overSuffixFields(field)(tokenMatch(_, sl, graft.functions.TokenMatch.Suffix))
    case Infix(field, in) =>
      val il = Analyzer.caseFold(in, analyzer)
      overSuffixFields(field)(tokenMatch(_, il, graft.functions.TokenMatch.Infix))
    case Fuzzy(field, word, maxDist) =>
      val wl = Analyzer.caseFold(word, analyzer)
      overTextFields(field)(tokenMatch(_, wl, graft.functions.TokenMatch.Fuzzy, maxDist))
    case Phrase(field, words) =>
      // Adjacency on post-stop-word positions ⟺ substring match on the
      // space-joined token string (" t0 t1 t2 ").
      require(analyzer.withOffsets,
        "phrase matching requires positions; the index was created NOOFFSETS")
      val needle = words.map(Analyzer.caseFold(_, analyzer)).mkString(" ", " ", " ")
      overTextFields(field)(fd => col(s"__${fd.alias}__joined").contains(needle))
  }
}
