package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expressions._

/** Installs graft into a session: the native expressions as SQL
  * functions, so `spark.sql("SELECT cosine_sim(a, b) ...")` and the
  * DataFrame API share one codegen implementation, and the
  * [[AsOfJoinStrategy]] planner strategy behind `AsOfJoin.asOf`.
  *
  * `GraftSession.local` builds every session with it; elsewhere use
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   --conf spark.sql.extensions=graft.plans.GraftExtensions
  * Sessions derived from it (`newSession`, a streaming query's clone)
  * inherit both.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {

  /** Evaluate a parameter expression that must be a compile-time constant
    * (n, k, seed). Non-foldable arguments would otherwise hit eval() on an
    * unresolved attribute and die with an opaque UnsupportedOperationException
    * deep in Catalyst. */
  private def constArg(fn: String, name: String, e: Expression): Number = {
    require(e.foldable, s"$fn: argument '$name' must be a constant literal")
    e.eval() match {
      case n: Number => n
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$name' must be a numeric constant, got $other")
    }
  }

  /** SQL function `name`, documented by `usage`, taking one of `arities`
    * argument counts. */
  private def fn(name: String, usage: String, arities: Int*)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      args => {
        require(arities.contains(args.size),
          s"$name takes ${arities.mkString(" or ")} argument(s): $usage")
        build(args)
      })

  /** Bridge a Column-composed kernel (built from org.apache.spark.sql
    * .functions trees — codegen'd, no UDF) into a SQL function builder.
    * The classic Column/Expression converters keep this zero-copy: the
    * argument Expressions wrap as Columns, the composed tree unwraps
    * back into the function registry's Expression. */
  private def viaColumns(
      build: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)
      : Seq[Expression] => Expression = args =>
    org.apache.spark.sql.graft.ColumnBridge.convert(
      build(args.map(org.apache.spark.sql.graft.ColumnBridge.column)))

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float/double arrays", 2)(
      a => CosineSim(a(0), a(1))),
    fn("dot_product", "dot_product(a, b) - dot product of two float/double arrays", 2)(
      a => DotProduct(a(0), a(1))),
    fn("simhash64", "simhash64(tokens) - 64-bit SimHash of an array<string>", 1)(
      a => SimHash64(a(0))),
    fn("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical composition (matches DuckDB's)", 1)(
      a => NfcNormalize(a(0))),
    fn("shingle_hashes", "shingle_hashes(tokens, n) - 64-bit hashes of word n-grams", 2)(
      a => ShingleHashesExpr(a(0), constArg("shingle_hashes", "n", a(1)).intValue())),
    fn("minhash_sig", "minhash_sig(shingles[, k, seed]) - MinHash signature array", 1, 3)(
      a => if (a.size == 1) MinHashSig(a(0), 64, 42L)
        else MinHashSig(a(0), constArg("minhash_sig", "k", a(1)).intValue(),
          constArg("minhash_sig", "seed", a(2)).longValue())),
    fn("lsh_buckets", "lsh_buckets(vec, nTables, nPlanes) - random-hyperplane sign buckets", 3)(
      a => LshBuckets(a(0), constArg("lsh_buckets", "nTables", a(1)).intValue(),
        constArg("lsh_buckets", "nPlanes", a(2)).intValue())),
    fn("gram_hashes", "gram_hashes(tokens, n) - per-occurrence n-gram hashes (non-distinct)", 2)(
      a => ShingleHashesExpr(a(0), constArg("gram_hashes", "n", a(1)).intValue(),
        distinct = false)),
    fn("multiplicity_stats", "multiplicity_stats(arr) - [total, distinct, max multiplicity] of array<long>", 1)(
      a => MultiplicityStats(a(0))),
    fn("sig_agreement", "sig_agreement(sig_a, sig_b) - fraction of equal MinHash signature positions", 2)(
      a => SigAgreement(a(0), a(1))),
    fn("sorted_intersect_count", "sorted_intersect_count(a, b) - |a ∩ b| of two sorted distinct array<long>", 2)(
      a => SortedIntersectCount(a(0), a(1))),
    fn("char_counts", "char_counts(s) - per-codepoint occurrence counts, sorted by codepoint", 1)(
      a => CharCounts(a(0))),
    fn("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1] (classic parameters, matches DuckDB)", 2)(
      a => JaroWinkler(a(0), a(1))),
    fn("luhn_valid", "luhn_valid(digits) - Luhn checksum over a digit string (payment-card validation)", 1)(
      viaColumns(as => graft.operators.Scrub.luhnValid(as.head))),
    fn("hamming64", "hamming64(a, b) - hamming distance between two 64-bit fingerprints (simhash64/dHash)", 2)(
      viaColumns(as => org.apache.spark.sql.functions.bit_count(as.head.bitwiseXOR(as(1))))),
    fn("normalize_url", "normalize_url(url) - canonical dedup key (lowercase, strip scheme/www/query/fragment/trailing slash)", 1)(
      viaColumns(as => graft.functions.UrlFunctions.normalizeUrl(as.head))),
    fn("url_host", "url_host(normalized) - host of a normalize_url output, port and FQDN dot stripped", 1)(
      viaColumns(as => graft.functions.UrlFunctions.urlHost(as.head))),
    fn("registered_domain", "registered_domain(host) - two-label registered-domain heuristic", 1)(
      viaColumns(as => graft.functions.UrlFunctions.registeredDomain(as.head))))
}
