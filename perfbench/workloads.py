"""The benchmark's workloads. Each one stages its inputs from the seed,
runs one kind of op through the package's public functions, and checks
the op's output against an answer computed without Spark.

A workload object has:
- setups: how many times one run stages the workload from nothing;
- setup(k): stage into a fresh directory and run the first op (warm-up),
  whose output becomes the expected output of every later op;
- verify(): independent checks of the staged world, untimed; returns
  the problems found;
- prepare(): untimed input preparation before each op;
- op(): one op; returns (input rows completed, output correct?);
- final_check(): end-of-run check; False fails every timed op;
- spans: per-op numbers the benchmark measured around its own calls,
  read by the traced run.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from harness import digest, dir_size, fresh_dir

AGENCY = "Metro Transit"
# compare-world node rows plus the sync's tombstone flag
UPDATES_SCHEMA = (
    "osm_id string, version string, user string, timestamp string, lat double,"
    " lon double, tags map<string,string>, file_idx int, elem_idx long, deleted boolean"
)


def _haversine_m(lat1, lon1, lat2, lon2, radius_m):
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    a = (
        np.sin(np.radians(lat2 - lat1) / 2.0) ** 2
        + np.cos(rlat1) * np.cos(rlat2) * np.sin(np.radians(lon2 - lon1) / 2.0) ** 2
    )
    return 2.0 * radius_m * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


class Workload:
    setups = 3

    def __init__(self, spark, workdir: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.scale = scale
        self.expected = None
        self.spans: dict[str, float] = {}

    def verify(self) -> list[str]:
        return []

    def prepare(self) -> None:
        pass

    def final_check(self) -> bool:
        return True

    def corrupt_expected(self) -> None:
        """Self-test hook: make every later op's output check fail."""
        self.expected = ("corrupted", self.expected)

    def trace_storage(self, on: bool) -> None:
        pass

    def storage_before(self) -> None:
        pass

    def storage_after(self) -> None:
        pass

    def describe(self) -> dict:
        return {}


class ImagesAssign(Workload):
    """assign_images over staged geotagged images and features: a
    JVM-only broadcast radius join into a SortAggregate, no Python."""

    name = "images_assign"
    sample = 200

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # 25k images: at 100k, assign_images' per-JVM slow mode (0.8 vs
        # 1.8 s per call) spread op_s_p50 over 0.25 between runs
        self.n_img = max(int(25_000 * self.scale), 1_000)
        self.n_feat = max(self.n_img // 50, 8)
        # the seed moves the feature ids; features stay anchored in the
        # images' id space, so every seed gives a full set of matches
        self.f_off = int(np.random.default_rng(self.seed).integers(0, 10**6))

    def _inputs(self):
        """The rows synth.generate_geo_only and synth.generate_features
        would produce, built on the driver so staging starts no Python
        workers (assign_images itself runs none)."""
        from gtfs_osm_sync_spark import synth
        from gtfs_osm_sync_spark.functions.cells import hex_cell_np, s2_cell_np

        ids = np.arange(self.n_img, dtype=np.uint64)
        phash = synth.splitmix64(ids).view(np.int64)
        lat, lon = synth.phash_latlon_np(phash)
        images = pd.DataFrame(
            {
                "image_id": [f"img{int(i):012d}" for i in ids],
                "phash": phash,
                "lat": lat,
                "lon": lon,
                "hex_cell": hex_cell_np(lat, lon, 9),
                "s2_cell": s2_cell_np(lat, lon, 15),
            }
        )
        fids = np.arange(self.f_off, self.f_off + self.n_feat)
        features = synth.gen_features_pdf(fids, self.n_img, self.n_feat)
        return images, features

    def setup(self, k: int) -> None:
        from gtfs_osm_sync_spark import synth

        d = fresh_dir(os.path.join(self.workdir, f"images{k}"))
        self.images_pdf, self.features_pdf = self._inputs()
        self.spark.createDataFrame(self.images_pdf, synth.GEO_ONLY_SCHEMA).write.parquet(
            d + "/images"
        )
        self.spark.createDataFrame(self.features_pdf, synth.FEATURES_SCHEMA).write.parquet(
            d + "/features"
        )
        self.geo = self.spark.read.parquet(d + "/images")
        self.feats = self.spark.read.parquet(d + "/features")
        first = self._run()
        if self.expected is not None and first != self.expected:
            raise RuntimeError(f"set-up {k} output {first} != set-up 0 output {self.expected}")
        self.expected = first

    def _run(self):
        from gtfs_osm_sync_spark.pipeline import assign_images

        return digest(assign_images(self.geo, self.feats))

    def op(self):
        t0 = time.perf_counter()
        ok = self._run() == self.expected
        self.spans["pipeline.assign_s"] = time.perf_counter() - t0
        return self.n_img, ok

    def verify(self) -> list[str]:
        """Brute-force haversine nearest feature and category for a
        sample of images, against the engine's rows for them."""
        from pyspark.sql import functions as F

        from gtfs_osm_sync_spark.functions.geo import EARTH_RADIUS_M
        from gtfs_osm_sync_spark.operators.spatial_join import (
            DEFAULT_RADIUS_M,
            ERROR_TO_ZERO_M,
        )
        from gtfs_osm_sync_spark.pipeline import assign_images

        img = self.images_pdf[["image_id", "lat", "lon"]]
        ft = self.features_pdf
        rng = np.random.default_rng(self.seed)
        pick = img.iloc[rng.choice(len(img), size=min(self.sample, len(img)), replace=False)]
        got = {
            r["image_id"]: r
            for r in assign_images(self.geo, self.feats)
            .filter(F.col("image_id").isin(list(pick["image_id"])))
            .collect()
        }
        problems = []
        flat, flon = ft["lat"].to_numpy(), ft["lon"].to_numpy()
        fid, fgid = ft["feature_id"].to_numpy(), ft["gtfs_id"].to_numpy()
        for iid, lat, lon in pick.itertuples(index=False):
            d = _haversine_m(lat, lon, flat, flon, EARTH_RADIUS_M)
            inside = np.nonzero(d < DEFAULT_RADIUS_M)[0]
            gid = iid[3:].lstrip("0").zfill(8)
            if len(inside):
                near = min(inside, key=lambda j: (d[j], fid[j]))
                best = min(inside, key=lambda j: (fgid[j] != gid, d[j], fid[j]))
                if fgid[best] != gid:
                    cat = "UPLOAD_CONFLICT"
                else:
                    cat = "NOTHING_NEW" if d[best] <= ERROR_TO_ZERO_M else "MODIFY"
                want = (fid[near], round(float(d[near]), 6), fid[best], cat)
            else:
                want = (None, None, None, "UPLOAD_NO_CONFLICT")
            r = got.get(iid)
            have = r and (
                r["nearest_feature_id"], r["nearest_dist_m"], r["match_feature_id"], r["category"]
            )
            ok = bool(have) and have[0] == want[0] and have[2:] == want[2:] and (
                want[1] is None or abs(have[1] - want[1]) <= 2e-6
            )
            if not ok:
                problems.append(f"images_assign {iid}: engine {have} != brute force {want}")
        return problems[:5]

    def describe(self) -> dict:
        return {"images": self.n_img, "features": self.n_feat, "feature_id_offset": self.f_off}


class DriverLeaves(Workload):
    """One pass over q08, q09, q10 and q11 on TPC-H-shaped tables: the
    only user of driver_queries' grid ring join and of q08's collect."""

    name = "driver_leaves"
    leaves = ["q08_variant_dedup", "q09_radius_join", "q10_knn", "q11_match_categories"]

    # the tables are one fixed set, as the repository's TPC-H-shaped test
    # data (TESTDATA.md) is; the workload seed only permutes the leaves
    data_seed = 42

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        rng = np.random.default_rng(self.seed)
        self.order = [self.leaves[i] for i in rng.permutation(len(self.leaves))]
        # row counts of sf0.05 tables
        self.n_line = max(int(300_000 * self.scale), 6_000)
        self.n_cust = max(int(7_500 * self.scale), 150)
        self.n_supp = max(int(500 * self.scale), 10)

    def _write_tables(self, d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.data_seed)
        # TPC-H shape: 1-7 lines per order numbered from 1, so no order
        # has two lines with one line number (the q08 oracle orders by
        # line number alone)
        per_order = rng.integers(1, 8, self.n_line // 4)
        n = int(per_order.sum())
        starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
        line = pa.table(
            {
                "l_orderkey": np.repeat(np.arange(len(per_order), dtype=np.int64), per_order),
                "l_partkey": rng.integers(0, self.n_line // 30, n, dtype=np.int64),
                "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
            }
        )
        pq.write_table(line, d + "/lineitem.parquet")
        self.rows = n
        pq.write_table(
            pa.table({"c_custkey": np.arange(self.n_cust, dtype=np.int64)}),
            d + "/customer.parquet",
        )
        pq.write_table(
            pa.table({"s_suppkey": np.arange(self.n_supp, dtype=np.int64)}),
            d + "/supplier.parquet",
        )

    def setup(self, k: int) -> None:
        d = fresh_dir(os.path.join(self.workdir, f"leaves{k}"))
        self._write_tables(d)
        self.dir = d
        first = self._run()
        if self.expected is not None and first != self.expected:
            raise RuntimeError(f"set-up {k} output {first} != set-up 0 output {self.expected}")
        self.expected = first

    def _run(self):
        from gtfs_osm_sync_spark import driver_queries as dq

        out = {}
        for name in self.order:
            t0 = time.perf_counter()
            out[name] = digest(dq.QUERIES[name](self.spark, self.dir))
            self.spans["dq." + name[:3] + "_s"] = time.perf_counter() - t0
        return out

    def op(self):
        return self.rows, self._run() == self.expected

    def verify(self) -> list[str]:
        """Each leaf's full result against its DuckDB oracle SQL."""
        import duckdb

        from gtfs_osm_sync_spark import driver_queries as dq

        def norm(df):
            df = df[sorted(df.columns)].copy()
            for c in df.columns:
                if df[c].dtype == object:
                    df[c] = df[c].astype(str)
            return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

        con = duckdb.connect()
        try:
            for t in ("lineitem", "customer", "supplier"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            problems = []
            for name in self.order:
                got = norm(dq.QUERIES[name](self.spark, self.dir).toPandas())
                want = norm(con.execute(dq.ORACLES[name]).df())
                try:
                    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
                except AssertionError as e:
                    problems.append(f"{name}: {str(e).splitlines()[0]}")
            return problems
        finally:
            con.close()

    def describe(self) -> dict:
        return {
            "lineitem": self.rows,
            "customer": self.n_cust,
            "supplier": self.n_supp,
            "data_seed": self.data_seed,
            "leaf_order": self.order,
        }


class DeltaSync(Workload):
    """Micro-batches of node updates through apply_update_batch against a
    partitioned feed and a partitioned, bloom-filtered node log; the node
    log is compacted after every batch, inside the timed op."""

    name = "delta_sync"
    # one set-up (stage, bootstrap compare, compaction) costs about 30 s
    # on 4 cores, and a batch about 10 s, so a run sets up once and makes
    # no separate warm-up batch: the bootstrap compare warms the same code
    setups = 1
    batch = 50
    move_deg = 0.0009  # ~100 m north or south
    sample = 200

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_stops = max(int(20_000 * self.scale), 5_000)
        self.check_offset = 0
        rng = np.random.default_rng(self.seed)
        # stop ids stay below 10**7: gtfs ids are zero-padded to 7 digits
        self.offset = int(rng.integers(0, 10**7 - self.n_stops))
        self._plan(rng)

    def _plan(self, rng) -> None:
        """The world on the driver (for the checks) and the order in which
        batches visit coarse cells with at least `batch` nodes."""
        from gtfs_osm_sync_spark import synth
        from gtfs_osm_sync_spark.functions.cells import hex_cell_np
        from gtfs_osm_sync_spark.streaming.sync import COARSE_RES

        ids = np.arange(self.offset, self.offset + self.n_stops, dtype=np.uint64)
        self.stops_pdf = synth.gen_compare_stops_pdf(ids)
        nodes = synth.gen_compare_nodes_pdf(ids)
        nodes["deleted"] = False
        self.nodes_pdf = nodes
        own = nodes[nodes["osm_id"].str.startswith("n")]
        cell = hex_cell_np(own["lat"].to_numpy(), own["lon"].to_numpy(), COARSE_RES)
        counts = own.groupby(cell).size()
        cells = sorted(counts[counts >= self.batch].index)
        self.cells = [cells[i] for i in rng.permutation(len(cells))]
        self.cell_nodes = {c: sorted(own["osm_id"][cell == c])[: self.batch] for c in self.cells}
        self.rng = rng
        self.pos = {o: [(la, lo)] for o, la, lo in zip(own["osm_id"], own["lat"], own["lon"])}

    def setup(self, k: int) -> None:
        from gtfs_osm_sync_spark import synth
        from gtfs_osm_sync_spark.sources.snaptable import SnapTable, bloom_filter_options
        from gtfs_osm_sync_spark.streaming import sync as S

        d = fresh_dir(os.path.join(self.workdir, f"delta{k}"))
        t0 = time.perf_counter()
        stops = self.spark.createDataFrame(self.stops_pdf, synth.COMPARE_STOPS_SCHEMA)
        S.stamp_feed_cells(stops).repartition("cell_part").write.partitionBy(
            "cell_part"
        ).parquet(d + "/feed")
        self.spark.createDataFrame(self.nodes_pdf, UPDATES_SCHEMA).write.parquet(d + "/nodes0")
        self.feed_dir = d + "/feed"
        self.feed_bytes = dir_size(self.feed_dir)[0]
        self.feed = self.spark.read.parquet(self.feed_dir)
        self.feed_ids = self.feed.select("gtfs_id").cache()
        self.feed_ids.count()
        self.node_log = SnapTable(
            d + "/node_log", partition_by="cell_part",
            write_options=bloom_filter_options(["osm_id"]),
        )
        self.result_log = SnapTable(d + "/result_log")
        self.batch_id = 0
        t1 = time.perf_counter()
        self._apply(self.spark.read.parquet(d + "/nodes0"))
        self.boot_version = self.result_log.current_version()
        t2 = time.perf_counter()
        S.compact_node_log(self.spark, self.node_log)
        self._compacted()
        self.phases = {
            "stage_s": t1 - t0, "bootstrap_s": t2 - t1, "compact_s": time.perf_counter() - t2,
        }

    def _compacted(self) -> None:
        # compaction keeps only each node's latest row, so older positions
        # no longer reach the affected-stop set
        self.pos = {o: p[-1:] for o, p in self.pos.items()}

    def _apply(self, updates) -> int:
        from gtfs_osm_sync_spark.streaming.sync import apply_update_batch

        return apply_update_batch(
            self.spark, updates, self.node_log, self.result_log, self.feed, [AGENCY],
            self.batch_id, n_feed=self.n_stops, feed_ids=self.feed_ids, id_digits=7,
        )

    def prepare(self) -> None:
        """Build the next batch: `batch` nodes of the next coarse cell,
        each moved ~100 m; and the number of stops it must re-compare."""
        self.batch_id += 1
        cell = self.cells[(self.batch_id - 1) % len(self.cells)]
        moved = self.cell_nodes[cell]
        step = self.move_deg * self.rng.choice([-1.0, 1.0], size=len(moved))
        rows = self.nodes_pdf.set_index("osm_id").loc[moved].reset_index()
        for i, o in enumerate(moved):
            la, lo = self.pos[o][-1]
            self.pos[o].append((la + step[i], lo))
            rows.loc[i, "lat"], rows.loc[i, "lon"] = la + step[i], lo
        self.updates = self.spark.createDataFrame(rows[list(self.nodes_pdf.columns)], UPDATES_SCHEMA)
        # a stop re-compares when it lies within 1.01 x 400 m (haversine)
        # of any position a moved node ever held; past 10% of the feed
        # the batch falls back to a full re-compare
        from gtfs_osm_sync_spark.functions.geo import EARTH_RADIUS_M

        pts = np.array([p for o in moved for p in self.pos[o]])
        slat = self.stops_pdf["lat"].to_numpy()
        slon = self.stops_pdf["lon"].to_numpy()
        hit = np.zeros(len(slat), dtype=bool)
        for la, lo in pts:
            near = np.abs(slat - la) < 0.01
            hit[near] |= _haversine_m(slat[near], slon[near], la, lo, EARTH_RADIUS_M) < 404.0
        n = int(hit.sum())
        self.want_recompared = self.n_stops if n > 0.1 * self.n_stops else n

    def op(self):
        from gtfs_osm_sync_spark.streaming.sync import compact_node_log

        n = self._apply(self.updates)
        self.spans["sync.recompared_stops"] = n
        self.spans["sync.recompared_frac"] = n / self.n_stops
        t0 = time.perf_counter()
        compact_node_log(self.spark, self.node_log)
        self.spans["snaptable.compact_s"] = time.perf_counter() - t0
        self._compacted()
        return self.batch, n == self.want_recompared + self.check_offset

    def corrupt_expected(self) -> None:
        self.check_offset = 1

    def trace_storage(self, on: bool) -> None:
        """Time every SnapTable read the package makes (traced run only):
        the tables are this benchmark's objects, so their methods can be
        wrapped without touching the package."""
        for t in (self.node_log, self.result_log):
            for m in ("read", "read_split"):
                if on:
                    setattr(t, m, self._timed_read(getattr(type(t), m).__get__(t)))
                else:
                    t.__dict__.pop(m, None)

    def _timed_read(self, fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.spans["snaptable.read_plan_s"] += time.perf_counter() - t0

        return wrapper

    def storage_before(self) -> None:
        self.spans["snaptable.read_plan_s"] = 0.0
        self._written = self._written_now()

    def storage_after(self) -> None:
        b, f = self._written_now()
        self.spans["snaptable.bytes_written"] = b - self._written[0]
        self.spans["snaptable.files_written"] = f - self._written[1]
        self.spans["snaptable.tail_entries"] = self.node_log.tail_entry_count()

    def _written_now(self):
        # compaction orphans superseded files instead of deleting them,
        # so the growth of both table directories is what the op wrote
        nb, nf = dir_size(self.node_log.root)
        rb, rf = dir_size(self.result_log.root)
        return nb + rb, nf + rf

    def verify(self) -> list[str]:
        """Brute-force Vincenty categories (GO_Sync's O(N*M) rules) for a
        sample of stops, against the rows the bootstrap batch committed."""
        from pyspark.sql import functions as F

        from gtfs_osm_sync_spark.functions.geo import EARTH_RADIUS_M, vincenty_m_np

        stops = self.stops_pdf
        nodes = self.nodes_pdf[
            self.nodes_pdf["tags"].map(lambda t: t.get("operator") in (None, "missing", AGENCY))
        ].reset_index(drop=True)
        gid = nodes["tags"].map(lambda t: t["gtfs_id"].zfill(7) if "gtfs_id" in t else None)
        feed_ids = set(stops["gtfs_id"])
        foreign = np.array([g is None or g not in feed_ids for g in gid])
        nlat, nlon = nodes["lat"].to_numpy(), nodes["lon"].to_numpy()
        rng = np.random.default_rng(self.seed + 1)
        pick = rng.choice(len(stops), size=min(self.sample, len(stops)), replace=False)
        want = {}
        for i in pick:
            s = stops.iloc[i]
            g = s["gtfs_id"]
            cat = None
            for j in np.nonzero((gid == g).to_numpy())[0]:  # document order
                d = float(vincenty_m_np(nlat[j], nlon[j], s["lat"], s["lon"]))
                if d >= 400.0:
                    continue
                gtags = {
                    "gtfs_id": g, "operator": AGENCY, "name": s["name_raw"],
                    "gtfs_stop_code": s["gtfs_stop_code"],
                }
                ntags = {**nodes["tags"][j], "gtfs_id": g}
                same = all(
                    k in ntags and (ntags[k].upper() == v.upper() or v in ntags[k])
                    for k, v in gtags.items()
                )
                cat = "NOTHING_NEW" if d <= 0.5 and same else "MODIFY"
                break
            if cat is None:
                near = foreign & (np.abs(nlat - s["lat"]) < 0.01)
                h = _haversine_m(nlat[near], nlon[near], s["lat"], s["lon"], EARTH_RADIUS_M)
                cand = h < 450.0
                d = vincenty_m_np(
                    nlat[near][cand], nlon[near][cand],
                    np.full(cand.sum(), s["lat"]), np.full(cand.sum(), s["lon"]),
                )
                cat = "UPLOAD_CONFLICT" if ((d > 0.5) & (d < 400.0)).any() else "UPLOAD_NO_CONFLICT"
            want[g] = cat
        got = {
            r["gtfs_id"]: r["category"]
            for r in self.result_log.read(self.spark, version=self.boot_version)
            .filter(F.col("gtfs_id").isin(list(want)))
            .select("gtfs_id", "category")
            .collect()
        }
        bad = [f"delta_sync stop {g}: engine {got.get(g)} != brute force {c}"
               for g, c in want.items() if got.get(g) != c]
        return bad[:5]

    def final_check(self) -> bool:
        """The sync contract: the merged result log equals a from-scratch
        compare_stops on the final node state."""
        from gtfs_osm_sync_spark.operators.compare import compare_stops
        from gtfs_osm_sync_spark.streaming.sync import current_nodes, current_results

        merged = current_results(self.result_log, self.spark)
        full = compare_stops(
            self.feed, current_nodes(self.node_log.read(self.spark)), [AGENCY], id_digits=7
        )
        self.expected = digest(merged, round_doubles=6)
        return self.expected == digest(full.select(*merged.columns), round_doubles=6)

    def describe(self) -> dict:
        return {
            "stops": self.n_stops,
            "stop_id_offset": self.offset,
            "batch_nodes": self.batch,
            "cells_with_a_full_batch": len(self.cells),
            "batches_run": self.batch_id,
            "setup_phases_s": self.phases,
        }


class BatchJoins(Workload):
    """One op is one assign_images followed by one pass over the four
    leaves: every JVM-only join path of the package in one workload, so
    the benchmark fits its time budget with two workloads."""

    name = "batch_joins"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.parts = [ImagesAssign(*a, **kw), DriverLeaves(*a, **kw)]

    def setup(self, k: int) -> None:
        for p in self.parts:
            p.setup(k)
        self.expected = [p.expected for p in self.parts]

    def op(self):
        rows, ok = 0, True
        for p in self.parts:
            n, good = p.op()
            rows += n
            ok = ok and good
            self.spans.update(p.spans)
        return rows, ok

    def verify(self) -> list[str]:
        return [msg for p in self.parts for msg in p.verify()]

    def corrupt_expected(self) -> None:
        for p in self.parts:
            p.expected = ("corrupted", p.expected)

    def describe(self) -> dict:
        return {p.name: p.describe() for p in self.parts}


WORKLOADS = {w.name: w for w in (BatchJoins, DeltaSync)}
