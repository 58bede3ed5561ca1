"""sf1 gate for the epsilon-graph trio: s2_distance_join,
s2_spatial_cluster, s2_dbscan.

These three cannot ride the standard check_oracles sf1 run: the
spatial-cluster / DBSCAN oracles are recursive-CTE reachability whose
intermediate row count is sum(component_size^2) — fine at the sf0.01 gate
(largest component 61 nodes), hopeless on sf1's ~67.8M-directed-edge
lattice graph (components reach ~300k nodes).  This tool replaces the CTE
with the classic offline checker:

1. **pairs**: DuckDB brute-forces the within-distance join with the SAME
   lat-band SQL the sf<=0.1 oracle uses (an IEJoin over ~5e9 candidate
   pairs — minutes, not hours) and the result is compared EXACTLY
   (ids + 7-dp chord2) against Spark's q_distance_join at sf1.
2. **components**: a union-find over the verified pair set (pure Python,
   path-compressed) labels every node with its component minimum —
   compared exactly against q_spatial_cluster (ids + sizes).
3. **dbscan**: degrees via bincount over the pair arrays, core mask
   (deg+1 >= minPts), union-find restricted to core-core edges, border =
   min core-neighbor cluster, noise = -1 — compared exactly against
   q_dbscan for all 1M events.

Writes CORRECTNESS_<dataset>_cluster_<utc>.json, a new file every run (an
earlier record is never overwritten).  Usage:

    python tools/sf1_cluster_gate.py [sf1_dir]
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np

sys.path.insert(0, ".")


def _pairs_duckdb(sf_dir: str):
    import duckdb

    from rust_s2_spark.engine import oracles

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    sql = oracles.o_distance_join()
    t0 = time.time()
    df = con.execute(sql).fetch_df()
    return df, time.time() - t0


class _UF:
    __slots__ = ("parent",)

    def __init__(self):
        self.parent = {}

    def find(self, x):
        p = self.parent
        r = x
        while p.get(r, r) != r:
            r = p[r]
        while p.get(x, x) != x:
            p[x], x = r, p[x]
        return r

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _components(ea: np.ndarray, eb: np.ndarray) -> dict[int, int]:
    """{node: component minimum} over the undirected edge list."""
    uf = _UF()
    for a, b in zip(ea.tolist(), eb.tolist()):
        uf.union(a, b)
    nodes = np.unique(np.concatenate([ea, eb]))
    return {int(x): uf.find(int(x)) for x in nodes.tolist()}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft/sf1"
    label = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    out_path = f"CORRECTNESS_{label}_cluster_{stamp}.json"
    from rust_s2_spark.engine import specs
    from rust_s2_spark.engine.queries import QUERIES, clear_geo_cache
    from rust_s2_spark.engine.session import get_spark

    spark = get_spark()
    results: dict[str, dict] = {}

    # --- 1. pairs: Spark vs DuckDB brute force -------------------------
    t0 = time.time()
    sp = (
        QUERIES["s2_distance_join"](spark, sf_dir)
        .toPandas()
        .sort_values(["event_a", "event_b"], ignore_index=True)
    )
    t_spark = time.time() - t0
    du, t_duck = _pairs_duckdb(sf_dir)
    du = du.sort_values(["event_a", "event_b"], ignore_index=True)
    pairs_ok = (
        len(sp) == len(du)
        and (sp["event_a"].to_numpy() == du["event_a"].to_numpy()).all()
        and (sp["event_b"].to_numpy() == du["event_b"].to_numpy()).all()
        and (sp["chord2_r"].to_numpy() == du["chord2_r"].to_numpy()).all()
    )
    results["s2_distance_join"] = {
        "status": "pass" if pairs_ok else "fail",
        "rows": int(len(sp)),
        "spark_sec": round(t_spark, 1),
        "oracle_sec": round(t_duck, 1),
        "oracle": "DuckDB lat-band brute force (same SQL as the sf<=0.1 gate)",
    }
    print(f"{'PASS' if pairs_ok else 'FAIL'} s2_distance_join: rows={len(sp)} "
          f"(spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)")
    if not pairs_ok:
        _write(out_path, sf_dir, results)
        return 1

    ea = sp["event_a"].to_numpy(np.int64)
    eb = sp["event_b"].to_numpy(np.int64)

    # --- 2. connected components ---------------------------------------
    t0 = time.time()
    cc = _components(ea, eb)
    sizes: dict[int, int] = {}
    for lbl in cc.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    t_uf = time.time() - t0
    t0 = time.time()
    spc = QUERIES["s2_spatial_cluster"](spark, sf_dir).toPandas()
    t_spark = time.time() - t0
    got = {
        int(r.event_id): (int(r.cluster_id), int(r.cluster_size))
        for r in spc.itertuples()
    }
    want = {n: (lbl, sizes[lbl]) for n, lbl in cc.items()}
    cc_ok = got == want
    results["s2_spatial_cluster"] = {
        "status": "pass" if cc_ok else "fail",
        "rows": int(len(spc)),
        "spark_sec": round(t_spark, 1),
        "oracle_sec": round(t_uf, 1),
        "oracle": "path-compressed union-find over the DuckDB-verified pairs",
    }
    print(f"{'PASS' if cc_ok else 'FAIL'} s2_spatial_cluster: rows={len(spc)} "
          f"(spark {t_spark:.1f}s, union-find {t_uf:.1f}s)")

    # --- 3. dbscan ------------------------------------------------------
    t0 = time.time()
    import duckdb

    all_ids = (
        duckdb.sql(f"SELECT event_id FROM '{sf_dir}/events.parquet'")
        .fetchnumpy()["event_id"]
        .astype(np.int64)
    )
    both = np.concatenate([ea, eb])
    deg_ids, deg_counts = np.unique(both, return_counts=True)
    deg = dict(zip(deg_ids.tolist(), deg_counts.tolist()))
    minpts = specs.DBSCAN_MINPTS
    core = {n for n, d in deg.items() if d + 1 >= minpts}
    core_a = np.fromiter((a in core for a in ea.tolist()), bool, len(ea))
    core_b = np.fromiter((b in core for b in eb.tolist()), bool, len(eb))
    cc_core = _components(ea[core_a & core_b], eb[core_a & core_b])
    core_lbl = {n: cc_core.get(n, n) for n in core}
    border: dict[int, int] = {}
    for a, b in zip(ea.tolist(), eb.tolist()):
        for x, y in ((a, b), (b, a)):
            if x not in core and y in core:
                lbl = core_lbl[y]
                if x not in border or lbl < border[x]:
                    border[x] = lbl
    want_db = {}
    for n in all_ids.tolist():
        if n in core:
            want_db[n] = ("core", core_lbl[n])
        elif n in border:
            want_db[n] = ("border", border[n])
        else:
            want_db[n] = ("noise", -1)
    t_ref = time.time() - t0
    t0 = time.time()
    spd = QUERIES["s2_dbscan"](spark, sf_dir).toPandas()
    t_spark = time.time() - t0
    got_db = {
        int(r.event_id): (r.role, int(r.cluster_id)) for r in spd.itertuples()
    }
    db_ok = got_db == want_db
    n_core = sum(1 for v in got_db.values() if v[0] == "core")
    n_border = sum(1 for v in got_db.values() if v[0] == "border")
    results["s2_dbscan"] = {
        "status": "pass" if db_ok else "fail",
        "rows": int(len(spd)),
        "roles": {
            "core": n_core,
            "border": n_border,
            "noise": int(len(spd)) - n_core - n_border,
        },
        "spark_sec": round(t_spark, 1),
        "oracle_sec": round(t_ref, 1),
        "oracle": "numpy degree/core + union-find on core-core edges + min-border",
    }
    print(f"{'PASS' if db_ok else 'FAIL'} s2_dbscan: rows={len(spd)} "
          f"core={n_core} border={n_border} "
          f"(spark {t_spark:.1f}s, reference {t_ref:.1f}s)")

    # --- 4. cluster stats -------------------------------------------------
    # aggregates over the verified DBSCAN labels: every output is
    # order-independent-exact (integer counts/mins, min/max over the derived
    # lat/lng doubles), so the comparison is bit-exact with no rounding.
    t0 = time.time()
    import pandas as pd

    mem_ids = np.array(
        [n for n, (role, _) in want_db.items() if role != "noise"], np.int64
    )
    lat, lng = specs.latlng_np(mem_ids)
    mem = pd.DataFrame(
        {
            "event_id": mem_ids,
            "cluster_id": [want_db[int(n)][1] for n in mem_ids.tolist()],
            "is_core": [want_db[int(n)][0] == "core" for n in mem_ids.tolist()],
            "lat": lat,
            "lng": lng,
        }
    )
    want_st = (
        mem.groupby("cluster_id")
        .agg(
            n_points=("event_id", "size"),
            n_core=("is_core", "sum"),
            rep_id=("event_id", "min"),
            lat_lo=("lat", "min"),
            lat_hi=("lat", "max"),
            lng_lo=("lng", "min"),
            lng_hi=("lng", "max"),
        )
        .reset_index()
        .sort_values("cluster_id", ignore_index=True)
    )
    t_ref = time.time() - t0
    t0 = time.time()
    sps = (
        QUERIES["s2_cluster_stats"](spark, sf_dir)
        .toPandas()
        .sort_values("cluster_id", ignore_index=True)
    )
    t_spark = time.time() - t0
    st_ok = len(sps) == len(want_st)
    if st_ok:
        for c in ("cluster_id", "n_points", "n_core", "rep_id"):
            st_ok &= bool(
                (sps[c].to_numpy(np.int64) == want_st[c].to_numpy(np.int64)).all()
            )
        for c in ("lat_lo", "lat_hi", "lng_lo", "lng_hi"):
            st_ok &= bool((sps[c].to_numpy() == want_st[c].to_numpy()).all())
    results["s2_cluster_stats"] = {
        "status": "pass" if st_ok else "fail",
        "rows": int(len(sps)),
        "spark_sec": round(t_spark, 1),
        "oracle_sec": round(t_ref, 1),
        "oracle": "pandas groupby over the verified labels, bit-exact bbox",
    }
    print(f"{'PASS' if st_ok else 'FAIL'} s2_cluster_stats: rows={len(sps)} "
          f"(spark {t_spark:.1f}s, reference {t_ref:.1f}s)")

    clear_geo_cache()
    _write(out_path, sf_dir, results)
    n_fail = sum(1 for r in results.values() if r["status"] != "pass")
    print(f"{len(results) - n_fail} pass, {n_fail} fail")
    return 1 if n_fail else 0


def _write(path: str, dataset: str, results: dict) -> None:
    """Write the record to a new file; opened exclusively, so an earlier
    record of the same name is never overwritten."""
    record = {
        "what": (
            "scale gate for the epsilon-graph trio (distance join, connected "
            "components, DBSCAN) — these queries joined the suite after the "
            "full sf1 run, and their recursive-CTE oracles blow up past the "
            "sf0.01 driver gate (walk rows = sum(component_size^2): fine at "
            "61-node sf0.01 components, 40+ GB at sf0.1, hopeless at sf1's "
            "~300k-node lattices), so the scale checker is the classic "
            "offline one: DuckDB lat-band brute-force pairs + "
            "path-compressed union-find + numpy role classification + pandas "
            "per-cluster aggregates, all compared EXACTLY (ids, 7-dp chord2, "
            "roles, cluster ids, sizes, bit-exact bbox doubles)"
        ),
        "dataset": dataset,
        "results": results,
    }
    with open(path, "x") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
