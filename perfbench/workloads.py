"""The two closed-loop workloads: ``ingest`` and ``serve``.

One Spark-driver thread issues every call after the previous one returns.
Each timed call is a public library function; its output is checked
after the round, outside the timed window.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .inputs import keyed, probe_frame

# Structural fpp bounds of the fingerprint families (the conformance
# bar the library's tests use): a taffy cuckoo lookup compares a
# 10-bit fingerprint against 2 sides x 4 slots, and the static XOR
# filter stores 8-bit fingerprints.
TCF_MODEL_FPP = 2 * 4 / 2 ** 10
XOR_MODEL_FPP = 1 / 2 ** 8


@dataclass(frozen=True)
class Spec:
    """One filter the workload builds: ``kind`` names it in metrics,
    ``layer`` is the module and route that builds it."""
    kind: str
    layer: str
    family: str
    grouped: bool
    n_keys: int
    ndv: int
    fpp: float
    strategy: str | None = None  # None: the library's size router


@dataclass
class Built:
    spec: Spec
    keys: DataFrame
    df: DataFrame
    n_keys: int
    blob_bytes: int

    def model_fpp(self) -> float:
        fam = self.spec.family
        if fam == "block":
            from libfilter_spark.kernels.sizing import block_fpp
            return block_fpp(self.n_keys, self.blob_bytes)
        return XOR_MODEL_FPP if fam == "static_xor" else TCF_MODEL_FPP


class Workload:
    """Shared build / probe / semi-join steps and the run's tallies."""

    def __init__(self, spark, tracer, seed: int, cfg: dict):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.cfg = cfg
        self.parts = cfg["parts"]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.quality: dict[str, dict] = {}
        self.cached: list[DataFrame] = []

    # -- checks -------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.failures.append(what)

    # -- steps --------------------------------------------------------
    def build(self, spec: Spec, keys: DataFrame) -> tuple[Built, float]:
        """Build call through the collected blob sizes; returns the
        cached filter frame and the wall time."""
        from libfilter_spark.spark import build_filters
        from libfilter_spark.spark.forest import build_filter_forest
        self.attempted += 1
        gcols = ["lang"] if spec.grouped else []
        with self.tr.span(f"{spec.layer}.call_s", layer=spec.layer) as c:
            if spec.layer == "spark.forest.forest":
                df = build_filter_forest(
                    keys.select("key"), family=spec.family, ndv=spec.ndv,
                    fpp=spec.fpp, n_shards=self.cfg["forest_shards"])
            else:
                df = build_filters(keys.select(*gcols, "key"),
                                   gcols or None, family=spec.family,
                                   ndv=spec.ndv, fpp=spec.fpp,
                                   strategy=spec.strategy)
            df = df.cache()
        with self.tr.span(f"{spec.layer}.collect_s", layer=spec.layer) as k:
            rows = df.select("n_keys", "n_partials",
                             F.length("filter").alias("nb")).collect()
            k["n_partials"] = sum(r["n_partials"] for r in rows)
        self.cached.append(df)
        n = sum(r["n_keys"] for r in rows)
        nbytes = sum(r["nb"] for r in rows)
        k["blob_bytes"] = nbytes
        self.check(n == spec.n_keys,
                   f"{spec.kind}: built {n} keys, expected {spec.n_keys}")
        return Built(spec, keys, df, n, nbytes), c["dur"] + k["dur"]

    def probe(self, b: Built, frame: DataFrame, phase: str) -> dict:
        """Probe ``frame`` (present + absent keys) against ``b``; the
        counts come back from the same job that probes."""
        from libfilter_spark.spark import probe_with_filters
        self.attempted += 1
        name = f"spark.probe.{b.spec.kind}.{phase}"
        gcols = ["lang"] if b.spec.grouped else None
        with self.tr.span(f"{name}.call_s", layer=name,
                          broadcast_bytes=b.blob_bytes) as c:
            out = probe_with_filters(frame, b.df, gcols)
        with self.tr.span(f"{name}.exec_s", layer=name) as e:
            r = out.agg(
                F.count(F.when(F.col("present"), 1)).alias("n_in"),
                F.count(F.when(F.col("present") & F.col("maybe_seen"),
                               1)).alias("tp"),
                F.count(F.when(~F.col("present"), 1)).alias("n_out"),
                F.count(F.when(~F.col("present") & F.col("maybe_seen"),
                               1)).alias("fp")).first()
        return {"kind": b.spec.kind, "s": c["dur"] + e["dur"],
                "n_in": r["n_in"], "tp": r["tp"], "n_out": r["n_out"],
                "fp": r["fp"]}

    def semijoin(self, b: Built, probe_keys: DataFrame,
                 build_keys: DataFrame) -> dict:
        from libfilter_spark.spark import filter_semi_join
        self.attempted += 1
        with self.tr.span("spark.probe.semijoin.call_s",
                          layer="spark.probe.semijoin") as c:
            sj = filter_semi_join(probe_keys.select("key"),
                                  build_keys.select("key"), b.df, None)
        with self.tr.span("spark.probe.semijoin.exec_s",
                          layer="spark.probe.semijoin") as e:
            n = sj.count()
        return {"s": c["dur"] + e["dur"], "count": n}

    def survivors(self, b: Built, probe_keys: DataFrame) -> int:
        """Probe rows that pass the semi-join's filter."""
        from libfilter_spark.spark import probe_with_filters
        return (probe_with_filters(probe_keys.select("key"), b.df, None)
                .where(F.col("maybe_seen")).count())

    @staticmethod
    def exact_join(probe_keys: DataFrame, build_keys: DataFrame) -> int:
        """The semi-join answer computed by Spark alone."""
        bk = build_keys.select("key").dropDuplicates(["key"])
        return probe_keys.select("key").join(bk, "key", "left_semi").count()

    def check_probe(self, p: dict) -> None:
        self.check(p["tp"] == p["n_in"],
                   f"{p['kind']}: {p['n_in'] - p['tp']} false negatives")

    def note_quality(self, b: Built, fp: int, n_out: int,
                     gate: bool) -> None:
        """Record observed fpp against the model and the target; with
        ``gate`` the observed rate must stay within a 3-sigma binomial
        bound of the model at the bits/key the build achieved."""
        obs = fp / n_out if n_out else 0.0
        model = b.model_fpp()
        self.quality[b.spec.kind] = {
            "fpp": obs, "target": b.spec.fpp, "model": model,
            "ratio": obs / b.spec.fpp,
            "bytes_per_key": b.blob_bytes / b.n_keys,
            "bits_per_key": 8 * b.blob_bytes / b.n_keys,
            "n_absent": n_out}
        if gate:
            bound = model + 3 * math.sqrt(model * (1 - model) / n_out)
            self.check(obs <= bound,
                       f"{b.spec.kind}: fpp {obs:.5f} > model bound "
                       f"{bound:.5f}")

    def unpersist_all(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


def make_specs(cfg: dict) -> dict[str, Spec]:
    """The filters a workload builds (``keys``) or builds in the traced
    run only (``extra``), keyed by kind. The global block filter is
    pinned to the sharded route: at serve's size the router would pick
    partials, which ``tcf`` already measures. The static XOR filter is
    global and only serves the semi-join."""
    out = {}
    for kind, n in {**cfg["keys"], **cfg["extra"]}.items():
        out[kind] = {
            "block": Spec("block", "spark.build.sharded", "block", False,
                          n, cfg["block_ndv"], 0.01, "sharded"),
            "tcf": Spec("tcf", "spark.build.partials", "taffy_cuckoo",
                        True, n, max(64, n // 12), 0.01),
            "forest": Spec("forest", "spark.forest.forest",
                           "taffy_cuckoo", False, n, n, 0.004),
            "xor": Spec("xor", "spark.build.grouped_bulk", "static_xor",
                        False, n, n, XOR_MODEL_FPP),
        }[kind]
    return out


class Ingest(Workload):
    """Each round builds a global block filter through the sharded
    route from keys no earlier round used, then probes it once with its
    own keys plus half as many absent ones. The probe is of a filter
    the probe caches have not seen, so it pays the cold probe-state
    work: collect, broadcast, assembly and -- the assembled state is
    ~37 MB -- the /dev/shm publish. The traced run adds one fresh
    frozen TCF forest the same way, for the forest layer's figures."""

    name = "ingest"

    def setup(self) -> dict:
        self.specs = make_specs(self.cfg)
        return {}

    def fresh(self, spec: Spec, rid: int) -> tuple[Built, float, dict]:
        """Build ``spec`` from round ``rid``'s keys and probe it once."""
        keys = keyed(self.spark, self.seed, spec.kind, rid * spec.n_keys,
                     spec.n_keys, self.parts)
        b, build_s = self.build(spec, keys)
        n_abs = b.n_keys // 2
        absent = keyed(self.spark, self.seed, "absent-" + spec.kind,
                       rid * n_abs, n_abs, self.parts)
        return b, build_s, self.probe(b, probe_frame(keys, absent), "first")

    def round(self, rid: int) -> dict:
        b, build_s, p = self.fresh(self.specs["block"], rid)
        return {"built": [b], "build_s": build_s, "build_keys": b.n_keys,
                "probes": [p]}

    def after_round(self, res: dict, traced: bool) -> None:
        for b, p in zip(res["built"], res["probes"]):
            self.check_probe(p)
            self.note_quality(b, p["fp"], p["n_out"], gate=False)
        self.unpersist_all()

    def traced_extra(self, rid: int) -> None:
        b, _, p = self.fresh(self.specs["forest"], rid)
        self.after_round({"built": [b], "probes": [p]}, True)

    def layer_extras(self, traced_rounds: list[dict]) -> dict:
        return {}


class Serve(Workload):
    """Set-up builds the served filters -- a global block (sharded
    route) and a global static XOR (grouped_bulk) over the semi-join's
    build side -- caches one probe set (half present, half absent) and
    probes the block once. Each round probes the cached set against the
    block and runs one ``filter_semi_join`` through the XOR filter,
    whose build side matches 10% of the probe rows. The traced run adds
    a per-``lang`` taffy cuckoo (partials route + TCF union) probed cold
    and warm, for the grouped probe route's figures."""

    name = "serve"

    def setup(self) -> dict:
        cfg = self.cfg
        self.specs = make_specs(cfg)
        n_probe = cfg["probe_keys"]
        self.tr.round_id = "setup"
        # the served set is built three times (each build replaces the
        # last) so its build throughput is a median, not one cold call
        rates = []
        for rep in range(3):
            self.unpersist_all()
            built, build_s = {}, 0.0
            for kind in cfg["keys"]:
                spec = self.specs[kind]
                keys = keyed(self.spark, self.seed, "serve", 0,
                             spec.n_keys, self.parts)
                built[kind], s = self.build(spec, keys)
                build_s += s
            rates.append(sum(b.n_keys for b in built.values()) / build_s)
        self.block, self.sj_filter = built["block"], built["xor"]
        present = keyed(self.spark, self.seed, "serve", 0, n_probe // 2,
                        self.parts)
        absent = keyed(self.spark, self.seed, "serve-absent", 0,
                       n_probe // 2, self.parts)
        self.frame = probe_frame(present, absent).cache()
        self.cached.append(self.frame)
        self.frame.count()
        first = self.probe(self.block, self.frame, "first")
        self.check_probe(first)
        self.note_quality(self.block, first["fp"], first["n_out"],
                          gate=True)
        self.exact = self.exact_join(self.frame, self.sj_filter.keys)
        self.check(self.exact == self.sj_filter.n_keys,
                   f"exact semi-join {self.exact} != "
                   f"{self.sj_filter.n_keys}")
        return {"build_keys_per_s": rates, "first_probe_s": first["s"]}

    def round(self, rid: int) -> dict:
        probes = [self.probe(self.block, self.frame, "warm")]
        sj = self.semijoin(self.sj_filter, self.frame, self.sj_filter.keys)
        return {"probes": probes, "sj": sj}

    def after_round(self, res: dict, traced: bool) -> None:
        for p in res["probes"]:
            self.check_probe(p)
            self.note_quality(self.block, p["fp"], p["n_out"], gate=True)
        self.check(res["sj"]["count"] == self.exact,
                   f"semi-join {res['sj']['count']} != exact {self.exact}")
        if traced:
            # rows that pass the XOR filter but match nothing are its
            # false positives; counting them costs one more job
            surv = self.survivors(self.sj_filter, self.frame)
            res["sj_survivors"] = surv
            self.note_quality(self.sj_filter, surv - self.exact,
                              self.cfg["probe_keys"] - self.exact,
                              gate=True)

    def traced_extra(self, rid: int) -> None:
        """Build the per-``lang`` TCF from fresh keys, probe it cold,
        then warm, against its own half-absent probe set."""
        spec, half = self.specs["tcf"], self.cfg["probe_keys"] // 2
        tag = f"tcf{rid}"
        keys = keyed(self.spark, self.seed, tag, 0, spec.n_keys, self.parts)
        b, _ = self.build(spec, keys)
        frame = probe_frame(
            keyed(self.spark, self.seed, tag, 0, half, self.parts),
            keyed(self.spark, self.seed, tag + "-absent", 0, half,
                  self.parts))
        for phase in ("first", "warm"):
            p = self.probe(b, frame, phase)
            self.check_probe(p)
        self.note_quality(b, p["fp"], p["n_out"], gate=True)
        self.cached.remove(b.df)
        b.df.unpersist()

    def layer_extras(self, traced_rounds: list[dict]) -> dict:
        surv = sorted(r["res"]["sj_survivors"] for r in traced_rounds)
        mid = surv[len(surv) // 2]
        return {"spark.probe.semijoin.survivors": mid,
                "spark.probe.semijoin.matches": self.exact,
                "spark.probe.semijoin.useful_ratio": self.exact / mid}


WORKLOADS = {"ingest": Ingest, "serve": Serve}
