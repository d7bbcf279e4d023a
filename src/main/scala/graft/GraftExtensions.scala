package graft

import graft.functions.{ArrayDot, DamerauLevenshtein, StemDutch, StripAccents, TokenizeWs}
import graft.functions.{TextFunctions => TF}
import graft.operators.TextAnalysis
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RegExpReplace}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser

/** SQL surface for graft's custom Catalyst expressions AND the curation
  * functions. Configure with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * and `SELECT stem_dutch(text)`, `strip_accents(s)`,
  * `damerau_levenshtein(a, b)`, `array_dot(a, b)`, plus the curation
  * gate's scalar stages — `pii_redact(text)`, `quality_score(text)`,
  * `lang_id(text)` — become available to plain SQL (and therefore to
  * spark.sql pipelines and thrift clients).
  *
  * The curation functions are COMPOSED from built-in/injected
  * expressions (no UDFs): pii_redact folds the shared
  * [[TextAnalysis.piiPatterns]] through RegExpReplace; quality_score
  * and lang_id expand a parsed expression template over the caller's
  * argument — the nested `tokenize_ws` calls resolve through this same
  * registry, so everything stays inside codegen. Semantics are pinned
  * to the batch operators (ExtensionsSpec asserts per-document equality
  * with qualityScore / langId / the piiRedact fold).
  *
  * It also installs the planner side: the [[graft.plans.TopKStrategy]]
  * strategy and the [[graft.plans.SmallSort]] AQE query-stage
  * preparation rule.
  * [[GraftSession.builder]] applies this extension, so every graft
  * session plans the same way.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallSort)
  }
}

/** The function catalog, as the `injectFunction` triples [[GraftExtensions]]
  * installs into every session [[GraftSession.builder]] builds.
  */
object GraftExtensions {

  /** Parse an expression template and substitute the caller's argument
    * for the `__t` placeholder — expression-level composition without
    * hand-building lambda trees.
    */
  private def template(sql: String, arg: Expression): Expression =
    CatalystSqlParser.parseExpression(sql).transformUp {
      case a: UnresolvedAttribute if a.name == "__t" => arg
    }

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** The quality composite over `__t` — same arithmetic as
    * [[TextAnalysis.qualityCol]] over the same three metrics.
    */
  private val qualityTemplate: String = {
    val n = "size(tokenize_ws(__t))"
    val stop = s"cast(size(filter(tokenize_ws(__t), t -> t IN " +
      s"(${inList(TF.englishStopwords)}))) as double) / $n"
    val punct = "cast(size(regexp_extract_all(__t, '[^a-z0-9\\\\s]', 0)) " +
      "as double) / length(__t)"
    s"round(0.5 * ($stop) + 0.3 * least(1.0, $n / 100.0) + 0.2 * (1.0 - ($punct)), 6)"
  }

  /** Argmax stopword-profile density with alphabetical tiebreak — the
    * scalar twin of [[TextAnalysis.langId]]: array_max over
    * (score, -profile_index) structs picks the highest score and, on a
    * tie, the alphabetically-first profile (profiles are sorted).
    */
  private val langIdTemplate: String = {
    val structs = TextAnalysis.langProfiles.zipWithIndex.map {
      case ((_, words), i) =>
        s"named_struct('s', cast(size(filter(tokenize_ws(__t), t -> t IN " +
          s"(${inList(words)}))) as double) / size(tokenize_ws(__t)), 'ni', ${-i})"
    }.mkString(", ")
    val cases = TextAnalysis.langProfiles.zipWithIndex.map {
      case ((lang, _), i) => s"WHEN ${-i} THEN '$lang'"
    }.mkString(" ")
    s"CASE (array_max(array($structs))).ni $cases END"
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** Every SQL function this library exposes, as the injectFunction
    * triple. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("stem_dutch"),
      info("stem_dutch", "stem_dutch(str) - Snowball Dutch stem per token"),
      (args: Seq[Expression]) => StemDutch(args.head)),
    (FunctionIdentifier("strip_accents"),
      info("strip_accents", "strip_accents(str) - NFD accent strip + ascii"),
      (args: Seq[Expression]) => StripAccents(args.head)),
    (FunctionIdentifier("damerau_levenshtein"),
      info("damerau_levenshtein",
        "damerau_levenshtein(a, b) - OSA restricted Damerau-Levenshtein"),
      (args: Seq[Expression]) => DamerauLevenshtein(args(0), args(1))),
    (FunctionIdentifier("array_dot"),
      info("array_dot", "array_dot(a, b) - double-array dot product"),
      (args: Seq[Expression]) => ArrayDot(args(0), args(1))),
    (FunctionIdentifier("tokenize_ws"),
      info("tokenize_ws",
        "tokenize_ws(str) - whitespace tokens, empties dropped"),
      (args: Seq[Expression]) => TokenizeWs(args.head)),
    (FunctionIdentifier("pii_redact"),
      info("pii_redact",
        "pii_redact(str) - mask emails, IPv4s, long digit runs with typed placeholders"),
      (args: Seq[Expression]) => TextAnalysis.piiPatterns.foldLeft(args.head) {
        case (e, (_, pat, rep)) => new RegExpReplace(e, Literal(pat), Literal(rep))
      }),
    (FunctionIdentifier("quality_score"),
      info("quality_score",
        "quality_score(str) - stopword/length/punctuation composite in [0, 1]"),
      (args: Seq[Expression]) => template(qualityTemplate, args.head)),
    (FunctionIdentifier("lang_id"),
      info("lang_id",
        "lang_id(str) - argmax stopword-profile density language code"),
      (args: Seq[Expression]) => template(langIdTemplate, args.head)))
}
