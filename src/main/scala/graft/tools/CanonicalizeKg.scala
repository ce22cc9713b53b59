package graft.tools

import graft.canon.Canonicalize
import graft.io.TripleStore
import graft.model.Triple

/** spark-submit canonicalization stage: triple store → sameAs edges from
  * the store's own URI/surface co-occurrences → connected components →
  * rewritten, re-bucketed store.
  *
  * The mention/URI evidence here is derived from the triples themselves
  * (object-literal surface ↔ object-URI pairs sharing a subject+predicate),
  * plus the alias dictionary; a production deployment would feed the
  * entity-link output table directly.
  *
  * Usage: CanonicalizeKg --store <buildKgOut> --out <canonStore>
  *        [--checkpoint <dir>]
  * --checkpoint selects the RELIABLE per-round checkpoint for the CC
  * iterations (survives executor loss on a cluster); defaults to
  * <out>/_cc_checkpoint. Pass `local` to use localCheckpoint instead
  * (fastest for single-JVM runs).
  */
object CanonicalizeKg {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val store = opts.getOrElse("--store", sys.error("--store required"))
    val out = opts.getOrElse("--out", sys.error("--out required"))
    val cores = opts.get("--cores").fold(Session.defaultCores)(_.toInt)

    val spark = Session("graft-canonicalize-kg", cores)
    import spark.implicits._

    val triples = spark.read.parquet(s"$store/data")
      .select("docId", "subj", "subjIsUri", "frame", "role", "pred", "obj", "objIsUri")
      .as[Triple]

    // mention/uri evidence from the bundled alias dictionary
    val dict = graft.link.AliasDict.default
    val mentionUri = dict.entries.values.toSeq
      .map(e => (e.mention, e.uri)).toDF("mention", "uri")

    val checkpoint = opts.getOrElse("--checkpoint", s"$out/_cc_checkpoint") match {
      case "local" => None
      case dir => Some(dir)
    }

    val t0 = System.nanoTime()
    // the mapping here is bounded by the bundled alias dictionary, so the
    // broadcast hint is safe and skips the fact table's shuffle-write
    val canon = Canonicalize.canonicalize(
      triples, mentionUri, Canonicalize.defaultAmbiguousSurfaces, checkpoint,
      hintBroadcastMapping = true)
    // same store layout as BuildKg ($out/data/bucket=*) so ExportKg and
    // TripleStore.read chain off either stage interchangeably
    TripleStore.write(canon, s"$out/data")
    val n = spark.read.parquet(s"$out/data").count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"canonicalize_kg: triples=$n seconds=$secs%.2f")
    spark.stop()
  }
}
