package graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.cdc.PgOutputExpressions._
import graft.functions.{MinKAgg, MinKPairAgg, MisraGriesAgg, PqOps, TopKAgg}
import graft.functions.GraftExpressions._
import graft.plans.AsOfStrategy

/** `SparkSessionExtensions` entry point — the one way the engine
  * installs itself into a session: every graft SQL function and the
  * as-of planner strategy, once, when the session is built.
  *
  * {{{ spark-submit --conf spark.sql.extensions=graft.GraftExtensions }}}
  *
  * [[GraftSession.builder]] sets it, so no query registers anything
  * when it runs. `spark.sql.extensions` is a static conf: a session
  * built elsewhere without it (a notebook, a shell) installs the same
  * table through [[Graft.register]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfStrategy)
  }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** The graft SQL functions: name → expression class → builder. Built
    * once per JVM, so every session shares the same registry entries. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn[MinHashSig]("minhash_sig")(es => MinHashSig(es.head, int(es(1)))),
    fn[SimHash64]("simhash64")(es => SimHash64(es.head)),
    fn[ByteSum]("byte_sum")(es => ByteSum(es.head)),
    fn[Phash32]("phash32")(es => Phash32(es.head)),
    fn[Phash64]("phash64")(es => Phash64(es.head)),
    fn[Fingerprint64]("fingerprint64")(es => Fingerprint64(es.head)),
    fn[CosineSim]("cosine_sim")(es => CosineSim(es.head, es(1))),
    fn[FpDot]("fp_dot")(es => FpDot(es.head, es(1))),
    fn[VecValid]("vec_valid")(es => VecValid(es.head)),
    fn[HyperplaneLsh]("lsh_bucket")(es => HyperplaneLsh(es.head, int(es(1)),
      es(2).eval().asInstanceOf[Number].longValue())),
    fn[PqOps.PqCodes]("pq_codes")(es => PqOps.PqCodes(es.head, es(1))),
    fn[PqOps.PqAdcLut]("pq_adc_lut")(es => PqOps.PqAdcLut(es.head, es(1))),
    fn[PgDecode]("pg_decode")(es => PgDecode(es.head)),
    fn[PgDecodePermissive]("pg_decode_permissive")(es => PgDecodePermissive(es.head)),
    fn[PgEncode]("pg_encode")(es => PgEncode(es.head)),
    fn[PgArrayParse]("pg_array")(es => PgArrayParse(es.head)),
    fn[MinKAgg]("min_k")(es => MinKAgg(es.head, int(es(1)))),
    fn[MinKPairAgg]("min_k_by")(es => MinKPairAgg(es.head, int(es(1)))),
    fn[TopKAgg]("topk_agg")(es => TopKAgg(es.head, int(es(1)))),
    fn[MisraGriesAgg]("mg_agg")(es => MisraGriesAgg(es.head, int(es(1)))))

  private def fn[E <: Expression : ClassTag](name: String)(build: Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, null, name), build)

  /** A foldable size/count argument (k, numPerms, numPlanes). */
  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
}
