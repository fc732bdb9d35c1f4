package graft.functions

import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.internal.StaticSQLConf

/** The supported extension point for the engine's custom expressions:
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) registers them for
  * SQL text, so `SELECT graft_dot(a, b)` works alongside the Column
  * API (`VectorOps.dot`). Sessions created without the extension still
  * run every `SparkEntry` query — the query builders bind expressions
  * through the Column API and never require the SQL registration.
  *
  * It also sizes Spark's generated-class cache for the engine's working
  * set (see [[GraftExtensions.CodegenCacheMaxEntries]]): `apply` runs
  * inside `getOrCreate` after the SparkContext exists and before the
  * session's shared state copies its conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSqlBridge.setContextConfIfMissing(
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      GraftExtensions.CodegenCacheMaxEntries.toString)
    // whole-operator extension: per-group top-k (graft.plans)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // optimizer-rule extension: rewrite the row_number()<=k window idiom
    // into the bounded-heap TopKPerGroup operator (graft.plans)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    // optimizer-rule extension: plan a scan that reads as one split as a
    // single-partition query, with no exchange above it (graft.plans)
    ext.injectOptimizerRule(graft.plans.SingleSplitRule)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(arrayA, arrayB)")
        DotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        require(args.length == 2 && args(1).foldable,
          "graft_minhash(shingles, k) with literal k")
        val k = args(1).eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_minhash: k must be an integer literal, got $other")
        }
        require(k > 0 && k <= 1024,
          s"graft_minhash: k must be in [1, 1024], got $k")
        MinHashSignature(args.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash_bands"),
      new ExpressionInfo(classOf[SimHashBands].getName, "graft_simhash_bands"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash_bands(features)")
        SimHashBands(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 2 && args(1).foldable,
          "graft_normalize(text, form) with literal form")
        val form = args(1).eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"graft_normalize: form must be a string literal, got $other")
        }
        UnicodeNormalize(args.head, form)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "graft_ngrams"),
      (args: Seq[Expression]) => {
        require(args.length == 2 && args(1).foldable,
          "graft_ngrams(text, n) with literal n")
        val n = args(1).eval() match {
          case v: Number => v.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_ngrams: n must be an integer literal, got $other")
        }
        WordNGrams(args.head, n)
      }))
  }
}

object GraftExtensions {
  /** Default for `spark.sql.codegen.cache.maxEntries` (Spark's is 100).
    *
    * Spark keeps compiled classes in one LRU per JVM, sized once from
    * this static conf when code is first generated. Its key includes the
    * thread's context class loader, and in local mode the driver thread
    * and the executor task threads use different loaders, so every
    * whole-stage class is cached twice. The 8 curate keys of the
    * benchmark fill ~111 entries in a fresh JVM: at 100 the LRU evicts
    * what the next pass needs, and every pass over a new shard
    * recompiled ~60 classes. Landing CSV batches fills ~38 entries,
    * which fit. 2000 holds both with room for the rest of the registry.
    *
    * Set with `setIfMissing`, so a value the user sets explicitly wins.
    * It takes effect only if the extension's session is the first one
    * in the JVM to generate code: a cache already built keeps its size.
    */
  val CodegenCacheMaxEntries: Int = 2000
}
