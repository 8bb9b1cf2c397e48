package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{MisraGriesTopK, VecCosine, VecDot, WinnowFps, WordNgrams, WpEncodeAll}
import graft.plans.{TopKRewrite, TopKStrategy}

/** Cluster-deployable entry point for everything graft injects into a
  * Spark session — the `spark.sql.extensions` contract:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * wires the library into EVERY session of the application with no code
  * changes: the native similarity expressions become plain SQL functions
  * (`vec_dot`, `vec_cosine`), the mergeable Misra-Gries heavy-hitter
  * aggregate becomes `mg_topk(tokens, k)`, [[graft.plans.TopKRewrite]]
  * puts the per-partition [[graft.plans.TopKPerGroup]] pre-aggregation
  * under every eligible `row_number() <= k` window, and the strategy plans
  * that node without the per-DataFrame `experimental.extraStrategies`
  * registration that [[graft.plans.TopK.perGroup]] falls back to.
  *
  * The per-session `VectorOps.register` / `FreqSketch.register` helpers
  * stay for notebook use; this class is the deployment path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    def binary(name: String, mk: (Expression, Expression) => Expression)
        : Seq[Expression] => Expression = exprs => {
      require(exprs.length == 2,
        s"$name requires 2 arguments, got ${exprs.length}")
      mk(exprs(0), exprs(1))
    }
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      binary("vec_dot", VecDot.apply)))
    ext.injectFunction((
      FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[VecCosine].getName, "vec_cosine"),
      binary("vec_cosine", VecCosine.apply)))
    // the aggregate/array builders live with their functions (one
    // arity/literal check shared with the per-session register helpers)
    ext.injectFunction((
      FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[MisraGriesTopK].getName, "mg_topk"),
      graft.functions.FreqSketch.fromExprs))
    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      graft.functions.WinnowFps.fromExprs))
    ext.injectFunction((
      FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      graft.functions.WordNgrams.fromExprs))
    ext.injectFunction((
      FunctionIdentifier("wp_encode_all"),
      new ExpressionInfo(classOf[WpEncodeAll].getName, "wp_encode_all"),
      graft.functions.WpEncodeAll.fromExprs))
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectOptimizerRule(_ => TopKRewrite)
  }
}
