"""Phase-level timing of one mutation-family registry query (guide §1).

Monkeypatches timers around the maintenance builders so each
update_where_orders / delete_where_orders invocation prints where its
wall-clock goes: scratch ingest, per-file split, keydict/aggproj/topk/
bucketed maintenance, star rollups, result projections (custrank), pins.
"""
import collections, functools, os, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from data_etl_sh_lianjia_spark import session as S
from data_etl_sh_lianjia_spark.operators import relational as R
from data_etl_sh_lianjia_spark.plans.registry import all_queries

acc = collections.defaultdict(float)
cnt = collections.defaultdict(int)

def wrap(mod, name):
    fn = getattr(mod, name)
    @functools.wraps(fn)
    def inner(*a, **k):
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            dt = time.perf_counter() - t0
            acc[name] += dt
            cnt[name] += 1
    setattr(mod, name, inner)

for n in [
    "ingest_tables", "_build_bucketed", "_bucketed_write",
    "_bucketed_write_df_local", "_build_aggproj", "_build_coarse_aggproj",
    "_build_keydict_local", "_keydict_merge", "_build_topkproj",
    "_maintain_join_projections", "_maintain_result_projections",
    "_refresh_pins", "_split_file_by_predicate", "_publish_dir",
    "_snapshot_generation", "_point_prune_candidates",
]:
    wrap(S, n)
for n in ["_merge_custrank", "_build_custrank"]:
    wrap(R, n)
# the mergers are resolved through these dicts, not module attrs
R.PROJECTION_BUILDERS["custrank_top3"] = R._build_custrank
R.PROJECTION_MERGERS["custrank_top3"] = R._merge_custrank
R.PROJECTION_DELETE_MERGERS["custrank_top3"] = R._merge_custrank

spark = S.get_spark(app_name="profile-mutation")
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
S.ingest_tables(spark, sf)  # warm the main managed copy (not the scratch)

qname = sys.argv[1] if len(sys.argv) > 1 else "update_where_orders"
q = all_queries()[qname]
# one warm run first (JIT etc.), then the measured run
for rnd in range(3):
    acc.clear(); cnt.clear()
    t0 = time.perf_counter()
    out = q.spark_fn(spark, sf)
    out.toArrow()
    total = time.perf_counter() - t0
    print(f"== {qname} run {rnd}: total {total:.3f}s")
    for k, v in sorted(acc.items(), key=lambda kv: -kv[1]):
        print(f"   {v:7.3f}s x{cnt[k]:<3} {k}")
