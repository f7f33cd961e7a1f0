"""End-to-end verify probes (used by the /verify skill): corpus ->
resumable build -> BM25/WAND/engine queries vs the pure-Python oracle,
fault-injected resume checksum equality, and the per-row sha256
invariant. Run from the repo root: python scripts/verify_e2e.py"""

import sys, shutil
sys.path.insert(0, ".")
from data_prepper_spark.session import get_spark
from data_prepper_spark.corpus import write_code_files
from data_prepper_spark.index.build import build_index
from tests.bm25_dataframe import bm25_topk
from data_prepper_spark.query.wand import bm25_topk_wand
from data_prepper_spark.query.engine import IndexQueryEngine
from pyspark.sql import functions as F
sys.path.insert(0, "tests")
import oracle as orc

spark = get_spark("verify-e2e-r2")
src = ".data/verify_corpus2"; out = ".data/verify_idx2"; out2 = ".data/verify_idx2_clean"
for d in (src, out, out2, ".data/verify_idx2_f"):
    shutil.rmtree(d, ignore_errors=True)
write_code_files(spark, 0.0002, src)
iddf = spark.read.parquet(src).select(F.xxhash64("repo","path","commit").alias("id"), "content").collect()
corpus_for_oracle = [(r["id"], r["content"]) for r in iddf]
build_index(spark, src, out, n_shards=16, units=2, shard_groups=2)

QUERIES = ["key value table scan", "", "!!! ???", "the", "import numpy parse json"]
ok = True
for q in QUERIES:
    for k in (1, 10, 10**6):
        exp = [(d, s) for _, d, s in orc.bm25_topk(corpus_for_oracle, q, k)]
        got_b = [(r["doc_id"], r["score"]) for r in bm25_topk(spark, out, q, k).collect()]
        got_w = [(r["doc_id"], r["score"]) for r in bm25_topk_wand(spark, out, q, k).collect()]
        for name, got in (("bm25", got_b), ("wand", got_w)):
            if len(got) != len(exp):
                ok=False; print(f"LEN MISMATCH {name} q={q!r} k={k}: {len(got)} vs {len(exp)}"); continue
            for (gd,gs),(ed,es) in zip(got, exp):
                if gd != ed or abs(gs-es) > 1e-6:
                    ok=False; print(f"MISMATCH {name} q={q!r} k={k}: {(gd,gs)} vs {(ed,es)}"); break
print("rank-identity vs oracle:", "OK" if ok else "FAIL", flush=True)

class Boom(Exception): pass
state={"n":0}
def inj(stage, unit):
    if stage=="B" and unit==1 and state["n"]==0:
        state["n"]=1; raise Boom()
try:
    build_index(spark, src, ".data/verify_idx2_f", n_shards=16, units=2, shard_groups=2, fault_injector=inj)
    print("FAULT NOT RAISED")
except Boom:
    print("fault injected at B/1", flush=True)
build_index(spark, src, ".data/verify_idx2_f", n_shards=16, units=2, shard_groups=2)
build_index(spark, src, out2, n_shards=16, units=2, shard_groups=2)
def cksum(d):
    posts = spark.read.parquet(f"{d}/postings")
    blocks = spark.read.parquet(f"{d}/posting_blocks")
    a = posts.agg(F.expr("bit_xor(xxhash64(term, doc_id, tf))")).collect()[0][0]
    b = blocks.agg(F.expr("bit_xor(xxhash64(term_hash, block_id, first_doc_id, n_docs))")).collect()[0][0]
    return (a,b)
c1, c2 = cksum(".data/verify_idx2_f"), cksum(out2)
print("resume checksum:", "OK" if c1==c2 else f"FAIL {c1} vs {c2}", flush=True)

docs_tbl = spark.read.parquet(f"{out}/docs")
j = spark.read.parquet(src).select("repo","path","commit", F.sha2("content",256).alias("s")).join(docs_tbl, ["repo","path","commit"])
bad = j.where(F.col("s") != F.col("content_sha256")).count(); tot = j.count()
print(f"sha256 invariant: {'OK' if bad==0 and tot>0 else 'FAIL'} ({tot} rows)", flush=True)
eng = IndexQueryEngine(spark, out)
for q in ["key value table scan", "the"]:
    a = [tuple(r) for r in eng.topk(q, 10).collect()]
    b = [tuple(r) for r in bm25_topk_wand(spark, out, q, 10).collect()]
    assert a==b, (q,a,b)
print("engine==wand OK", flush=True)
spark.stop()
