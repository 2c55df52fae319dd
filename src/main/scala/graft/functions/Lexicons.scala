package graft.functions

/** Embedded lexica (offline build — no downloads; see SURVEY.md §2.7 D5,
  * §2.10 U3 and /root/reference/airflow/plugins/nlp_tasks/data_preparation.py:80-83).
  *
  * The reference's *effective* stopword set at runtime is NLTK English plus
  * the inline additions {"from","re","also"} (its custom file never loads —
  * SURVEY.md §2.7). We embed a compact English function-word list with the
  * same role; parity target is the filter *semantics*, not a byte-identical
  * list (the oracle SQL embeds the identical list, so differential tests
  * stay exact).
  *
  * Each lexicon is exposed both as a Scala collection (for broadcast sets /
  * literal arrays on the Spark side) and as a SQL `VALUES` fragment (for the
  * DuckDB oracle), so both engines share one source of truth.
  */
object Lexicons {

  /** English stopwords: NLTK-core subset + the reference's inline {from, re, also}. */
  val stopwordsEn: Seq[String] = Seq(
    "a", "about", "above", "after", "again", "against", "all", "also", "am",
    "an", "and", "any", "are", "as", "at", "be", "because", "been", "before",
    "being", "below", "between", "both", "but", "by", "can", "did", "do",
    "does", "doing", "down", "during", "each", "few", "for", "from",
    "further", "had", "has", "have", "having", "he", "her", "here", "hers",
    "him", "his", "how", "i", "if", "in", "into", "is", "it", "its",
    "itself", "just", "me", "more", "most", "my", "no", "nor", "not", "now",
    "of", "off", "on", "once", "only", "or", "other", "our", "out", "over",
    "own", "re", "same", "she", "should", "so", "some", "such", "than",
    "that", "the", "their", "them", "then", "there", "these", "they",
    "this", "those", "through", "to", "too", "under", "until", "up", "very",
    "was", "we", "were", "what", "when", "where", "which", "while", "who",
    "whom", "why", "will", "with", "you", "your",
  )

  /** VADER-style valence lexicon, trimmed to terms that appear in analytics
    * vocab + common sentiment words. Scores in [-4, 4] like VADER's lexicon
    * (reference: sentiment_analysis.py:42-46 uses the compound score; the
    * compound is sum(valence)/sqrt(sum^2 + alpha), alpha=15).
    */
  val vaderLexicon: Seq[(String, Double)] = Seq(
    "good" -> 1.9, "great" -> 3.1, "excellent" -> 2.7, "best" -> 3.2,
    "love" -> 3.2, "like" -> 1.5, "win" -> 2.8, "winner" -> 2.8,
    "success" -> 2.7, "happy" -> 2.7, "fast" -> 1.1, "improve" -> 1.9,
    "gain" -> 1.6, "positive" -> 2.3, "strong" -> 2.3, "up" -> 0.8,
    "bad" -> -2.5, "worst" -> -3.1, "terrible" -> -2.1, "hate" -> -2.7,
    "lose" -> -1.7, "loser" -> -2.2, "fail" -> -2.5, "failure" -> -2.4,
    "sad" -> -2.1, "slow" -> -0.9, "decline" -> -1.5, "loss" -> -1.3,
    "negative" -> -2.3, "weak" -> -1.9, "down" -> -1.1, "error" -> -1.7,
    "crash" -> -2.3, "dup" -> -0.4, "small" -> -0.3, "big" -> 0.6,
  )

  /** Tiny per-language function-word sets for the n-gram/lexicon language-ID
    * heuristic. Keys are the `documents.lang` domain {en,de,es,fr,zh}.
    */
  val langFunctionWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "por", "con"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "que", "pour", "dans"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zai", "ta", "men", "zhe"),
  )

  // ---- SQL literal fragments (shared with the DuckDB oracle) ----

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** `['a','about',…]` — DuckDB list literal (lambdas can't hold subqueries). */
  def stopwordsEnSqlList: String =
    stopwordsEn.map(sq).mkString("[", ",", "]")

  /** `('good',1.9),…` — for `WITH lex(word, val) AS (VALUES …)`. */
  def vaderSqlValues: String =
    vaderLexicon.map { case (w, v) => s"(${sq(w)},$v)" }.mkString(",")

  /** `('en','the'),('en','and'),…` — for `WITH lw(lang, word) AS (VALUES …)`. */
  def langSqlValues: String =
    langFunctionWords.toSeq.sortBy(_._1).flatMap { case (l, ws) =>
      ws.map(w => s"(${sq(l)},${sq(w)})")
    }.mkString(",")
}
