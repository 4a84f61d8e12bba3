// ANN recall check: recall@20 vs exact brute force at 1x/3x/10x sf0.1
// embeddings, for the IVF search path (nprobe = 2/4/8 of 16 lists). Corpus
// replication matches scale_check2.scala (distinct vec_ids, deterministic per-copy nudge), so
// the recall evidence scales alongside the cost evidence in BENCH_NOTES.md.
// Run: /opt/spark/bin/spark-shell --master 'local[32]' \
//        --jars target/scala-2.13/whisperpandasspark_2.13-0.1.0.jar \
//        --conf spark.sql.shuffle.partitions=32 -i tools/recall_check.scala
import org.apache.spark.sql.functions._
import graft.operators.AnnIndex

val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
graft.functions.VectorFunctions.register(spark)

def mkScale(k: Int): org.apache.spark.sql.DataFrame =
  (0 until k).map { i =>
    embBase.select(
      (col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
      expr(s"transform(embedding, x -> cast(x + ${i}e-3f as float))").as("embedding"),
      col("label"))
  }.reduce(_ unionByName _)
    .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))

def topIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
  df.select("vec_id").collect().map(_.getLong(0)).toSet

for (k <- Seq(1, 3, 10)) {
  val e = mkScale(k).cache()
  val n = e.count()
  val qv = e.filter(col("vec_id") === 0).head().getSeq[Double](1).toArray
  val corpus = e.filter(col("vec_id") =!= 0)
  val qLit = qv.map(x => s"${x}D").mkString("array(", ",", ")")
  val cosCol = expr(s"dot_d(emb, $qLit) / (sqrt(dot_d(emb, emb)) * sqrt(dot_d($qLit, $qLit)))")
  val exact = topIds(corpus.select(col("vec_id"), cosCol.as("cos")).orderBy(col("cos").desc, col("vec_id")).limit(20))

  // IVF: 16 systematic centroids over the scaled corpus
  val cents = AnnIndex.ivfCentroids(e, "emb", "vec_id", 16, n)
  val assigned = AnnIndex.ivfAssign(corpus, "emb", cents).cache()
  assigned.count()
  for (nprobe <- Seq(2, 4, 8)) {
    val got = topIds(AnnIndex.ivfSearch(assigned, cents, "emb", qv, k = 20, nprobe = nprobe))
    println(f"[recall] k=$k%2d ivf   nprobe=$nprobe%d recall@20=${(exact & got).size / 20.0}%.2f")
  }
  assigned.unpersist()
  e.unpersist()
}
sys.exit(0)
