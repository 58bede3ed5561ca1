"""Output checks, each computed apart from the engine or on a property the
method must have.  They run outside the timed window; each returns a list of
problems (empty = the operation's output is right).

- query workloads: DuckDB oracle SQL compared with the comparison rules of
  ``tools/check_oracles.py``;
- spatial clusters: union-find components over DuckDB brute-force pairs
  (the ``tools/sf1_cluster_gate.py`` method);
- checkpointed job: manifests against an independent re-read, cap
  containment recomputed in numpy from the geo span text, rollup counts
  against the joined rows, and the resume path's stage reuse.
"""

from __future__ import annotations

import functools
import glob
import importlib.util
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def tool(name: str):
    """Import ``tools/<name>.py`` of this checkout as a module."""
    spec = importlib.util.spec_from_file_location(f"_s2bench_{name}", os.path.join(REPO, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck(data_dir: str):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


def oracle_frames(data_dir: str, names) -> dict[str, pd.DataFrame]:
    from rust_s2_spark.engine.oracles import oracle_sql

    sql = oracle_sql()
    con = duck(data_dir)
    return {n: con.execute(sql[n]).df() for n in names}


def self_intersect_margin(data_dir: str) -> float | None:
    """Smallest candidate sign product of ``s2_self_intersect`` lying inside
    the band where ``SELF_INTERSECT_EPS`` decides membership: above the
    exact-touch noise floor (1e-15) and below 100 x EPS.  None when every
    product sits in one of the two populations."""
    from rust_s2_spark.engine import specs

    ev = duck(data_dir).execute(
        "SELECT event_id, user_id, epoch_us(ts) AS us FROM events"
    ).fetchnumpy()
    ids = ev["event_id"].astype(np.int64)
    uid = ev["user_id"].astype(np.int64)
    order = np.lexsort((ids, ev["us"].astype(np.int64), uid))
    same = uid[order[1:]] == uid[order[:-1]]
    a_idx, b_idx, s_uid = order[:-1][same], order[1:][same], uid[order[1:]][same]
    lat, lng = specs.latlng_np(ids)
    la, ln = np.radians(lat), np.radians(lng)
    xs = np.stack([np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)], axis=1)
    pa_, a_ = xs[a_idx], xs[b_idx]
    prods = []
    for gap in range(2, specs.SELF_INTERSECT_W + 1):
        i = np.arange(len(a_idx) - gap)
        i = i[s_uid[i] == s_uid[i + gap]]
        j = i + gap
        ab, cd = np.cross(pa_[i], a_[i]), np.cross(pa_[j], a_[j])
        acb = -(ab * pa_[j]).sum(1)
        prods += [acb * (ab * a_[j]).sum(1), acb * -(cd * a_[i]).sum(1), acb * (cd * pa_[i]).sum(1)]
    mag = np.abs(np.concatenate(prods)) if prods else np.zeros(0)
    band = mag[(mag > 1e-15) & (mag < 100 * specs.SELF_INTERSECT_EPS)]
    return float(band.min()) if len(band) else None


# ---------------------------------------------------------------------------
# Spatial clusters
# ---------------------------------------------------------------------------


def components_reference(data_dir: str) -> dict[int, tuple[int, int]]:
    """event id -> (component minimum, component size) over the DuckDB
    brute-force within-distance pairs, by union-find."""
    from rust_s2_spark.engine import oracles

    pairs = duck(data_dir).execute(oracles.o_distance_join()).fetchnumpy()
    cc = tool("sf1_cluster_gate")._components(pairs["event_a"].astype(np.int64), pairs["event_b"].astype(np.int64))
    sizes: dict[int, int] = {}
    for lbl in cc.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    return {n: (lbl, sizes[lbl]) for n, lbl in cc.items()}


def check_components(got: pd.DataFrame, want: dict) -> list[str]:
    g = {int(r.event_id): (int(r.cluster_id), int(r.cluster_size)) for r in got.itertuples()}
    return [] if g == want else [f"components differ on {_ndiff(g, want)} nodes"]


def _ndiff(a: dict, b: dict) -> int:
    return sum(1 for k in a.keys() | b.keys() if a.get(k) != b.get(k))


# ---------------------------------------------------------------------------
# Checkpointed job
# ---------------------------------------------------------------------------


def _rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def manifest_problems(root: str, stage: str) -> list[str]:
    """The manifest's per-partition counts must sum to its total and to an
    independent pyarrow re-read of the stage's files."""
    path = os.path.join(root, stage)
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        m = json.load(f)
    parts = sum(p["rows"] for p in m["partitions"])
    reread = _rows(path)
    if parts == m["total_rows"] == reread:
        return []
    return [f"{stage}: manifest partitions sum {parts}, total {m['total_rows']}, re-read {reread}"]


def geo_from_spans(root: str) -> pd.DataFrame:
    """(doc_id, lat, lng) parsed from the first geo span's text of each doc
    in the geo checkpoint — not from the engine's extracted columns."""
    t = ds.dataset(os.path.join(root, "geo"), format="parquet").to_table(columns=["doc_id", "spans"])
    spans = t.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    parent = pc.list_parent_indices(spans).to_numpy()
    is_geo = pc.equal(pc.struct_field(flat, "kind"), "geo").to_numpy(zero_copy_only=False)
    text = pc.struct_field(flat, "text").to_numpy(zero_copy_only=False)[is_geo]
    doc_idx, first = np.unique(parent[is_geo], return_index=True)
    latlng = pd.Series(text[first]).str.split(":", expand=True).astype(np.float64)
    return pd.DataFrame({
        "doc_id": t.column("doc_id").to_numpy(zero_copy_only=False)[doc_idx],
        "lat": latlng[0].to_numpy(), "lng": latlng[1].to_numpy(),
    })


def cap_pairs(geo: pd.DataFrame) -> set[tuple[str, str]]:
    """(region_id, doc_id) for every doc inside a spec cap: |c - p|^2 <= r2."""
    from rust_s2_spark.engine import specs

    la, ln = np.radians(geo["lat"].to_numpy()), np.radians(geo["lng"].to_numpy())
    p = np.stack([np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)], axis=1)
    out = set()
    docs = geo["doc_id"].to_numpy()
    for rid, cx, cy, cz, r2 in specs.cap_rows():
        d2 = ((p - np.array([cx, cy, cz])) ** 2).sum(1)
        out.update((rid, d) for d in docs[d2 <= r2].tolist())
    return out


def ckpt_problems(root: str, report: dict | None, n_docs: int) -> dict[str, list[str]]:
    """Problems per operation of one checkpointed pass: ``crash`` (ingest and
    geo written before the simulated failure) and ``resume`` (the rerun)."""
    crash, resume = [], []
    for stage in ("ingest", "geo"):
        crash += manifest_problems(root, stage)
    geo = geo_from_spans(root)
    if len(geo) != n_docs:
        crash.append(f"geo span text parsed for {len(geo)} of {n_docs} docs")
    reused = {k: v["reused"] for k, v in (report or {}).get("stages", {}).items()}
    if reused != {"ingest": True, "geo": True, "joined": False, "rollup": False}:
        resume.append(f"resume reused {reused}")
        return {"crash": crash, "resume": resume}
    for stage in ("joined", "rollup"):
        resume += manifest_problems(root, stage)
    joined = ds.dataset(os.path.join(root, "joined"), format="parquet").to_table(
        columns=["region_id", "doc_id", "tile"]).to_pandas()
    if set(zip(joined["region_id"], joined["doc_id"])) != cap_pairs(geo) or len(joined) != len(
            joined.drop_duplicates(["region_id", "doc_id"])):
        resume.append("joined rows differ from numpy cap containment of the geo span text")
    rollup = ds.dataset(os.path.join(root, "rollup"), format="parquet").to_table().to_pandas()
    if int(rollup["n_docs"].sum()) != len(joined):
        resume.append(f"rollup sums to {int(rollup['n_docs'].sum())}, joined has {len(joined)} rows")
    want = joined.groupby(["region_id", "tile"]).size().rename("n_docs").reset_index()
    key = ["region_id", "tile"]
    if not rollup.sort_values(key, ignore_index=True)[key + ["n_docs"]].equals(
            want.sort_values(key, ignore_index=True)[key + ["n_docs"]].astype(rollup.dtypes.to_dict())):
        resume.append("rollup differs from the per-(region, tile) counts of the joined rows")
    return {"crash": crash, "resume": resume}
