package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.LevenshteinSim

/** Session-extension entry point: makes the engine's custom expressions
  * available on any cluster without code changes —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *
  * (Programmatic sessions can equivalently call
  * `LevenshteinSim.register(spark)`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("lev_sim"),
      new ExpressionInfo(classOf[LevenshteinSim].getName, "lev_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        LevenshteinSim.builder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName,
        "jaro_winkler"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "jaro_winkler(a, b) takes 2 arguments")
        graft.functions.JaroWinkler(exprs(0), exprs(1), winkler = true)
      }))
    ext.injectFunction((
      FunctionIdentifier("jaro_sim"),
      new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName,
        "jaro_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "jaro_sim(a, b) takes 2 arguments")
        graft.functions.JaroWinkler(exprs(0), exprs(1), winkler = false)
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[graft.functions.MinHashSig].getName,
        "minhash_sig"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.Sketches.minhashBuilder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[graft.functions.SimHashSig].getName,
        "simhash_sig"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.Sketches.simhashBuilder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("span_hashes"),
      new ExpressionInfo(classOf[graft.functions.SpanHashes].getName,
        "span_hashes"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.Sketches.spanHashesBuilder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("z_order2"),
      new ExpressionInfo(classOf[graft.functions.ZOrder2].getName,
        "z_order2"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.ZOrder.builder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_sig"),
      new ExpressionInfo(classOf[graft.functions.HyperplaneSig].getName,
        "hyperplane_sig"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.Sketches.hyperplaneBuilder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain_long"),
      new ExpressionInfo(
        classOf[graft.functions.BloomMightContainLong].getName,
        "bloom_might_contain_long"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.Bloom.builder(exprs)))
    ext.injectFunction((
      FunctionIdentifier("arg_max_struct"),
      new ExpressionInfo(classOf[graft.functions.ArgMaxStruct].getName,
        "arg_max_struct"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          "arg_max_struct(payload_struct, version) takes 2 arguments")
        graft.functions.ArgMaxStruct(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("strip_accents"),
      new ExpressionInfo(classOf[graft.functions.StripAccents].getName,
        "strip_accents"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 1, "strip_accents(str) takes 1 argument")
        graft.functions.StripAccents(exprs.head)
      }))
    // planner tier: interval-containment joins become banded equi-joins
    // (inert until BandedRangeJoinRule.ConfKey is set > 0)
    ext.injectOptimizerRule(_ => graft.plans.BandedRangeJoinRule)
  }
}
