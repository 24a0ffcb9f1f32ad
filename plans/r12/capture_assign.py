"""Capture explain("formatted") of the nearest-centroid assignment stage
of q42/q80/q180/q228/q235 (public API calls mirroring each query).

    python plans/r12/capture_assign.py <checkout> <outdir> <tag> <sf_dir>

Writes <outdir>/<query>_assign_<tag>.txt with a header line of Join and
Exchange counts. The committed dumps were taken at sf0.01."""
import os, re, sys
root, outdir, tag, sf = sys.argv[1:5]
sys.path.insert(0, root)
os.chdir(root)
from pyspark.sql import functions as F
from graphragpart1datapipeline_spark.session import get_spark
from graphragpart1datapipeline_spark.sources.io import read_table
from graphragpart1datapipeline_spark.vector.kmeans import kmeans_fit
from graphragpart1datapipeline_spark.vector.search import ivf_assignments
from graphragpart1datapipeline_spark.vector.pq import pq_train, pq_encode, pq_residuals
spark = get_spark(app_name="capture-assign"); spark.sparkContext.setLogLevel("ERROR")
emb = read_table(spark, sf, "embeddings")
cents = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("cid"), F.col("embedding"))
frames = {}
frames["q42_ivf_topk"] = ("ivf_assignments(emb, cents) - the ivf_build_index assignment", ivf_assignments(emb, cents, include_score=True))
frames["q80_kmeans_clustering"] = ("kmeans_fit(emb, k=4, iters=2, seed=42)[1] - final assignment", kmeans_fit(emb, k=4, iters=2, seed=42)[1])
frames["q180_ivf_incremental_index"] = ("ivf_assignments(increment, cents, include_score=True) - the ivf_upsert assignment", ivf_assignments(emb.filter(F.col("vec_id") % 5 == 3), cents, include_score=True))
book = pq_train(emb, m=4, ksub=4, iters=1, seed=42)
frames["q228_pq_encode"] = ("pq_encode(emb, pq_train(emb, m=4, ksub=4, iters=1, seed=42))", pq_encode(emb, book))
assign = ivf_assignments(emb, cents)
res = pq_residuals(emb, cents, assign)
rbook = pq_train(res, m=4, ksub=4, vec_col="residual", id_col="vec_id", iters=1, seed=42)
frames["q235_ivfpq_residual"] = ("coarse ivf_assignments + pq_encode(residuals, residual book)", pq_encode(res, rbook, vec_col="residual"))
os.makedirs(outdir, exist_ok=True)
summary = []
for name, (what, df) in frames.items():
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    tree = txt.split("\n\n")[0]
    joins = len(re.findall(r"Join", tree))
    shuffles = len(re.findall(r"(?<!Broadcast)Exchange", tree))
    bcasts = len(re.findall(r"BroadcastExchange", tree))
    head = f"-- {name} assignment stage ({tag}): {what}\n-- joins={joins} shuffle_exchanges={shuffles} broadcast_exchanges={bcasts}\n"
    with open(os.path.join(outdir, f"{name}_assign_{tag}.txt"), "w") as f:
        f.write(head + txt)
    summary.append(f"{name}\t{tag}\tjoins={joins}\tshuffle_exchanges={shuffles}\tbroadcast_exchanges={bcasts}")
print("\n".join(summary))
spark.stop()
