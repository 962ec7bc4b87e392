package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollectTopK
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions._

/** Builder-time registration of the graft extensions — the
  * `SparkSessionExtensions` route for deployments that own session
  * construction:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // programmatic
  *   // or: .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *   .getOrCreate()
  * }}}
  *
  * Library entry points that receive an already-built session
  * (`AsOfJoin.asOfNative`) register the same strategy idempotently via
  * `spark.experimental.extraStrategies` instead, so either path works.
  * Library code never needs the SQL function names: it builds the
  * native expressions as Columns (`graft.functions.*.column`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // the declarative md5-prefix chain accelerates session-wide
    // (bit-identical; see DigestChainRewrite)
    extensions.injectOptimizerRule(_ => DigestChainRewrite)
    GraftExtensions.functions.foreach(extensions.injectFunction)
  }
}

object GraftExtensions {

  /** graft's SQL functions — the one place their names are registered.
    * SQL arguments come from outside the program, so each builder
    * checks its arity and reads a constant argument as an Int, failing
    * by name at analysis time. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    function(Dec3.name, classOf[Dec3], "x")(a => Dec3(a(0))),
    function(Md5Prefix64.name, classOf[Md5Prefix64], "s")(a => Md5Prefix64(a(0))),
    function(SimHash32.name, classOf[SimHash32], "text")(a => SimHash32(a(0))),
    function(Winnow4Md5.name, classOf[Winnow4Md5], "text")(a => Winnow4Md5(a(0))),
    function(QDot.name, classOf[QDot], "a", "b")(a => QDot(a(0), a(1))),
    function(WordNgrams.name, classOf[WordNgrams], "text", "n")(a =>
      WordNgrams(a(0), constInt(WordNgrams.name, "n", a(1)))),
    function(CharNgrams.name, classOf[CharNgrams], "text", "n")(a =>
      CharNgrams(a(0), constInt(CharNgrams.name, "n", a(1)))),
    function(RingLookup.name, classOf[RingLookup], "key", "positions", "shards")(a =>
      RingLookup(a(0), a(1), a(2))),
    function(BottomK.name, GraftCollectTopK.getClass, "value", "k")(a =>
      BottomK.aggregate(a(0), constInt(BottomK.name, "k", a(1)))))

  private def function(name: String, cls: Class[_], params: String*)(
      build: Seq[Expression] => Expression): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), args => {
      if (args.length != params.length) throw new IllegalArgumentException(
        s"$name expects exactly (${params.mkString(", ")}); got ${args.length} arguments")
      build(args)
    })

  /** A constant SQL argument: any FOLDABLE integral expression (lit(3L),
    * 1 + 2, a byte/short literal), non-NULL and within Int range. */
  private def constInt(name: String, param: String, e: Expression): Int = {
    val integral = e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!e.foldable || !integral) throw new IllegalArgumentException(
      s"$name: $param must be a foldable integral expression, got ${e.sql}")
    val v = e.eval() match {
      case null => throw new IllegalArgumentException(
        s"$name: $param must not be NULL")
      case n: java.lang.Number => n.longValue
    }
    if (v < Int.MinValue || v > Int.MaxValue) throw new IllegalArgumentException(
      s"$name: $param must fit in an Int, got $v")
    v.toInt
  }
}
