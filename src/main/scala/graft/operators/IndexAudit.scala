package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Concurrency
import IndexLifecycle.{Param, Params}

/** Stats and fsck for the persisted index families: each family declares
  * both on its [[IndexLifecycle.Spec]] — `stats` as value-only [[Stat]]s,
  * `checks` as invariants — and [[run]] is the one evaluator.
  *
  * Stats are the serving dashboard ([[IndexLifecycle.Spec.measure]]): one
  * (stat, value) row per figure, in declaration order, exact longs — row
  * and distinct-key counts, group-size skew (a grouped [[Stat]]), and the
  * family's parameters. fsck ([[IndexLifecycle.Spec.audit]]) checks the
  * consistency that matters BETWEEN artifacts: a maintenance cadence runs
  * it after crashes, restores, manual surgery, or object-store mishaps,
  * and trusts the index only when every row passes. Its contract: one
  * (family, check, value, pass) row per check, in declaration order,
  * exact longs — `value` is the observed count (a corpus-anchored total
  * for count checks, a VIOLATION count for membership/placement checks,
  * so healthy indexes show the corpus number or 0) and `pass` the
  * invariant verdict. On a healthy index every check value is
  * derivable from the corpus alone, which is what lets q232 pin the
  * whole audit surface under the DuckDB hash (q219 pins the
  * corpus-derivable stats).
  *
  * Scale shape: id-column aggregates only — no text, no vectors, no
  * signatures move; the widest figure is one corpus-scale shuffle on doc
  * ids. Placement checks (bucket = hash(term), code width) are
  * row-local codegen predicates under a count. Each artifact is read
  * once, with `meta/` through [[IndexLifecycle.Params]]: the figures that
  * aggregate its rows under one grouping fuse into one job, and the
  * checks between two artifacts fuse into one aggregate of the union of
  * both sides' key rows, reduced per key. The jobs run concurrently
  * (§2.6).
  *
  * What each family checks and why it can break:
  *  - Text: meta's (n_docs, sum_dl) vs the docs sidecar (a crash
  *    between append's postings/docs writes and the meta rewrite
  *    drifts them — the documented stale-stats window); orphan
  *    postings (a delete that missed a bucket partition leaves score
  *    rows for erased docs — a right-to-be-forgotten violation);
  *    missing postings (a tokened doc with no postings can never be
  *    retrieved); bucket placement (a row whose `bucket` disagrees
  *    with pmod(xxhash64(term), n_buckets) is INVISIBLE to every
  *    bucket-pruned probe — silent recall loss no probe-side test can
  *    see); denormalized dl agreement postings↔sidecar (a stale dl
  *    skews that doc's BM25 length normalization).
  *  - MinHash: band fan-out (every sig row must band into exactly
  *    `bands` buckets — a partial band write from a crashed append
  *    makes a doc probabilistically invisible to probes); sig↔band id
  *    agreement both directions.
  *  - PQ: duplicate code ids (an upsert crash window); code width vs
  *    the codebook's subspace count (a probe ADC-sums m entries —
  *    width drift corrupts scores, not just recall); list_id domain vs
  *    the coarse codebook (an unknown cell is never probed).
  *  - IVF: duplicate vector ids; list_id domain vs centroids. */
object IndexAudit {

  /** One declared figure of an index, a stat or an fsck check; `name` is
    * its row's `stat` or `check`. */
  sealed trait Check { def name: String }

  /** What a [[Stat]]'s columns read: the family's parameters, and the id
    * column of the artifact it aggregates (an id artifact's only). */
  trait Scope { def param(p: Param): Column; def id: Column }

  /** The groups of an artifact's rows by `keys`, each sized by its rows,
    * or by its distinct values of `distinct`: a grouped [[Stat]]'s value
    * aggregates the sizes, read as [[Group.size]]. */
  final case class Group(keys: Seq[String], distinct: Option[String] = None)
  object Group { val size: Column = col("__size") }

  /** An aggregate `value` over the rows of artifact `sub` (with `by`: over
    * its groups), passing where `pass` holds of it — by default always, a
    * value-only figure. All of one artifact's under one grouping are one
    * job, and a value of parameters alone (`_.param(p)`) rides on its
    * artifact's job. */
  final case class Stat(name: String, sub: String, value: Scope => Column,
      pass: (Column, Scope) => Column = (_, _) => lit(true),
      by: Option[Group] = None) extends Check
  /** The pass of a violation count: none found. */
  val atZero: (Column, Scope) => Column = (v, _) => v === 0L

  /** Column `column` of artifact `sub`. */
  final case class Key(sub: String, column: String)
  /** A check matching the keys of two artifacts, `a` against `b`: all of
    * one pair's are one aggregate of both sides' rows, grouped by key. */
  sealed trait OnPair extends Check { def a: Key; def b: Key }
  /** The count of distinct `a` values (on the rows where `where` holds)
    * that `b` lacks; passes at 0. */
  final case class Subset(name: String, a: Key, b: Key,
      where: Option[Column] = None) extends OnPair
  /** The count of pairings of a distinct `column` value of `a` with one of
    * `b` under the same key that differ — a key on one side only is a
    * [[Subset]] finding, never counted here; passes at 0. */
  final case class Agrees(name: String, a: Key, b: Key, column: String)
      extends OnPair

  /** Audit a [[TextIndex]] at `path`. */
  def auditText(spark: SparkSession, path: String): DataFrame =
    TextIndex.lifecycle.audit(spark, path)

  /** Evaluate `checks` (declared on `spec`) on the index at `path`, as one
    * wave of concurrent jobs — an aggregate per artifact and grouping, and
    * a keyed aggregate per artifact pair — into one (name, value, pass)
    * per check, in order. */
  private[operators] def run(spark: SparkSession, path: String,
      spec: IndexLifecycle.Spec, checks: Seq[Check]): Seq[(String, Long, Boolean)] = {
    val params = new Params(spark, path)
    def passAtZero(name: String, v: Long) = name -> (v, v == 0L)
    val aggregates = checks.collect { case c: Stat => c }
      .groupBy(c => (c.sub, c.by)).toSeq.map { case ((sub, by), cs) =>
        val df = params.read(sub)
        val rows = by.fold(df)(g => df.groupBy(g.keys.map(col): _*).agg(
          g.distinct.fold(count(lit(1)))(c => countDistinct(col(c)))
            .as("__size")))
        () => {
          val scope = new Scope {
            def param(p: Param) = lit(params(p))
            def id = col(spec.idArtifacts.find(_.sub == sub).get
              .idColIn(df.schema))
          }
          val vp = cs.flatMap { c =>
            val v = c.value(scope).cast("long")
            Seq(v, c.pass(v, scope))
          }
          val r = rows.agg(vp.head, vp.tail: _*).head()
          cs.indices.map(i =>
            cs(i).name -> (r.getLong(2 * i), r.getBoolean(2 * i + 1)))
        }
      }
    // a pair's checks read one union of the two sides' rows, each flagged
    // with its side, reduced per key and then summed: one shuffle, no join.
    // A null key matches nothing, as in a join.
    val pairs = checks.collect { case c: OnPair => c }
      .groupBy(c => Seq(c.a, c.b).sortBy(k => (k.sub, k.column))).toSeq.map {
        case (Seq(l, r), cs) =>
          def rows(k: Key, side: String) = params.read(k.sub).select(
            col(k.column).as("__k") +: lit(true).as(s"__in$side") +: cs.flatMap {
              case Subset(n, a, _, w) if a == k =>
                Some(w.getOrElse(lit(true)).as(s"__a_$n"))
              case Agrees(_, _, _, c) => Some(col(c).as(s"${side}_$c"))
              case _ => None
            }: _*)
          val matched = col("__k").isNotNull
          val perKey = cs.map {
            case Subset(n, a, _, _) =>
              val inB = max(col(if (a == l) "__inR" else "__inL"))
              when(max(col(s"__a_$n")) && !(matched && inB.isNotNull), 1).as(n)
            case Agrees(n, _, _, c) =>
              val (vl, vr) = (collect_set(s"L_$c"), collect_set(s"R_$c"))
              when(matched,
                size(vl) * size(vr) - size(array_intersect(vl, vr))).as(n)
          }
          val (left, right) = (rows(l, "L"), rows(r, "R"))
          () => {
            val t = left.unionByName(right, allowMissingColumns = true)
              .groupBy(col("__k")).agg(perKey.head, perKey.tail: _*)
              .agg(sum(cs.head.name), cs.tail.map(c => sum(c.name)): _*).head()
            cs.indices.map(i =>
              passAtZero(cs(i).name, if (t.isNullAt(i)) 0L else t.getLong(i)))
          }
      }
    val got = Concurrency.runAll(aggregates ++ pairs).flatten.toMap
    checks.map { c => val (v, ok) = got(c.name); (c.name, v, ok) }
  }
}
