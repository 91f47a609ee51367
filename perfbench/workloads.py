"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one returned.

A workload object offers ``warm_up()`` (untimed work that takes the JVM's
compiler past the steep part of its warm-up curve), ``one_pass()`` (the
operations the timed loop repeats; returns one ``Op`` per operation) and
``check()`` (compares the program's outputs with what the generator knows
they must be; returns the number of mismatches). Checks run outside
timing. ``PASS_S`` is the nominal length of one pass: a run makes
``--seconds // PASS_S`` passes, the same number on every run.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow.dataset as ds
import pyarrow.parquet as pq

WARM_THREADS = 6
ITEM_PATH = "/purchaseOrder/items/item"
# One query per operator family, with the tables it reads; slowest first,
# so the warm-up starts the long iterative one before the short ones.
# dedup_components is left out: it runs dedup_minhash_lsh's whole plan and
# then a label-propagation loop whose round count depends on the seed's
# duplicate clusters. pagerank_fixed covers iteration and materialize()
# with a fixed number of rounds.
QUERY_MIX = {
    "pagerank_fixed": ["lineitem"],
    "dedup_minhash_lsh": ["documents"],
    "sim_topk_cosine": ["embeddings"],
    "q18_large_volume_customer": ["customer", "orders", "lineitem"],
    "q3_shipping_priority": ["customer", "orders", "lineitem"],
    "mm_decode_png": ["documents"],
    "q1_pricing_summary": ["lineitem"],
    "q6_forecast_revenue": ["lineitem"],
    "join_asof": ["events"],
    "window_rank": ["orders"],
    "text_stats": ["documents"],
}


@dataclass
class Op:
    name: str
    latency_s: float
    units: int  # documents converted, or 1 per query
    input_bytes: int
    request: bool  # a request a user waits on; the latency metrics use these
    ok: bool = True


def _timed(name, units, input_bytes, request, fn, tracer) -> Op:
    t0 = time.perf_counter()
    try:
        with tracer.span(name):
            fn()
        ok = True
    except Exception as e:  # a failed operation counts against ok_ratio
        print(f"# op {name} failed: {e!r}", flush=True)
        ok = False
    return Op(name, time.perf_counter() - t0, units, input_bytes, request, ok)


def _require_ok(ops: list[Op]) -> None:
    if not all(o.ok for o in ops):
        raise RuntimeError("an operation failed during warm-up")


def _field_names(t) -> list:
    """Nested field names of an Arrow type, for schema comparison."""
    import pyarrow as pa

    if pa.types.is_struct(t):
        return [(f.name, _field_names(f.type)) for f in t]
    if pa.types.is_list(t):
        return [("[]", _field_names(t.value_type))]
    return []


class IngestBulk:
    """The scale path: one ``convert_to_dataset`` call over plain and .gz
    documents, then one ``convert_archives_to_dataset`` call per archive
    kind."""

    def __init__(self, spark, root, manifest, out_dir):
        from xml_to_parquet_spark import convert_archives_to_dataset, convert_to_dataset

        self.spark, self.root, self.m, self.out = spark, root, manifest, out_dir
        self.xsd = os.path.join(root, "purchase_order.xsd")
        self._docs = convert_to_dataset
        self._archives = convert_archives_to_dataset
        self.docs = sorted(glob.glob(os.path.join(root, "bulk/docs/*")))
        self.tars = sorted(glob.glob(os.path.join(root, "bulk/tar/*.tar.gz")))
        self.zips = sorted(glob.glob(os.path.join(root, "bulk/zip/*.zip")))

    def _calls(self):
        b = self.m["bulk"]
        out = self.out
        return [
            ("convert_to_dataset", b["docs"]["n"], b["docs"]["xml_bytes"], False,
             lambda: self._docs(self.spark, self.docs, self.xsd, os.path.join(out, "docs"))),
            ("convert_archives_to_dataset.tar", b["tar"]["n"], b["tar"]["xml_bytes"], False,
             lambda: self._archives(self.spark, self.tars, self.xsd, "tar", os.path.join(out, "tar"))),
            ("convert_archives_to_dataset.zip", b["zip"]["n"], b["zip"]["xml_bytes"], False,
             lambda: self._archives(self.spark, self.zips, self.xsd, "zip", os.path.join(out, "zip"))),
        ]

    def output_stats(self) -> dict:
        files = [p for d in ("docs", "tar", "zip")
                 for p in glob.glob(os.path.join(self.out, d, "*.parquet"))]
        return {"files": len(files), "bytes": sum(os.path.getsize(p) for p in files),
                "xml_bytes": sum(self.m["bulk"][k]["xml_bytes"] for k in ("docs", "tar", "zip"))}

    def check(self) -> int:
        bad = 0
        for kind in ("docs", "tar", "zip"):
            exp = self.m["bulk"][kind]
            table = ds.dataset(os.path.join(self.out, kind), format="parquet").to_table()
            if table.num_rows != exp["n"]:
                print(f"# check {kind}: {table.num_rows} rows, expected {exp['n']}", flush=True)
                bad += abs(table.num_rows - exp["n"])
            rows = table.to_pylist()
            items = sum(len(((r["purchaseOrder"] or {}).get("items") or {}).get("item") or [])
                        for r in rows)
            if items != exp["items"]:
                print(f"# check {kind}: {items} items, expected {exp['items']}", flush=True)
                bad += 1
            by_key = {(r["_src"], r.get("_member")): r for r in rows}
            for s in exp["sample"]:
                got = by_key.get((s["src"], s.get("member")))
                want = s["row"]
                if got is None or {"purchaseOrder": got["purchaseOrder"]} != want:
                    print(f"# check {kind}: row for {s['src']} {s.get('member')} differs", flush=True)
                    bad += 1
        return bad


class IngestCompat:
    """The reference drop-in path: one ``convert()`` call per input file,
    include path ``/purchaseOrder/items/item``; each call is one request."""

    def __init__(self, spark, root, manifest, out_dir):
        from xml_to_parquet_spark import convert

        self.spark, self.root, self.m, self.out = spark, root, manifest, out_dir
        self.xsd = os.path.join(root, "purchase_order.xsd")
        self._convert = convert
        os.makedirs(out_dir, exist_ok=True)

    def _request(self, req):
        path = os.path.join(self.root, "compat", req["input"])

        def call():
            # convert() logs and skips a file it fails on, so the list of
            # files it wrote is what tells a failed request
            written = self._convert(self.spark, [path], self.xsd, target_path=self.out,
                                    xpaths=ITEM_PATH)
            got = sorted(os.path.basename(p) for p in written)
            if got != sorted(req["outputs"]):
                raise RuntimeError(f"convert() wrote {got}, expected {sorted(req['outputs'])}")

        return ("convert", req["docs"], req["xml_bytes"], True, call)

    def _calls(self):
        return [self._request(req) for req in self.m["compat"]]

    def output_stats(self) -> dict:
        files = glob.glob(os.path.join(self.out, "*.parquet"))
        return {"files": len(files), "bytes": sum(os.path.getsize(p) for p in files),
                "xml_bytes": sum(r["xml_bytes"] for r in self.m["compat"])}

    def check(self) -> int:
        import pyarrow as pa

        bad = 0
        expected = {name: row for r in self.m["compat"] for name, row in r["outputs"].items()}
        present = {os.path.basename(p) for p in glob.glob(os.path.join(self.out, "*"))}
        for extra in sorted(present - set(expected)):
            print(f"# check compat: unexpected output {extra}", flush=True)
            bad += 1
        item = pa.struct([("item@partNum", pa.string()), ("productName", pa.string()),
                          ("quantity", pa.int64()), ("USPrice", pa.float64()),
                          ("comment", pa.string()), ("shipDate", pa.string())])
        want_schema = _field_names(pa.struct([
            ("purchaseOrder", pa.struct([("purchaseOrder@orderDate", pa.string()),
                                         ("items", pa.struct([("item", pa.list_(item))]))])),
        ]))
        for name, want in sorted(expected.items()):
            path = os.path.join(self.out, name)
            if name not in present:
                print(f"# check compat: missing output {name}", flush=True)
                bad += 1
                continue
            table = pq.read_table(path)
            got_schema = _field_names(pa.struct(list(table.schema)))
            rows = table.to_pylist()
            if got_schema != want_schema or rows != [want]:
                print(f"# check compat: {name} differs (schema or row)", flush=True)
                bad += 1
        return bad


def _load_check_oracle(repo_root: str):
    """The repository's own oracle comparison helpers (cell normalization,
    dtype families) from ``scripts/check_oracle.py``."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(repo_root, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMix:
    """Registry queries, each written to the noop sink and each one
    request, in a seeded fixed order."""

    PASS_S = 12.0

    def __init__(self, spark, root, manifest, out_dir, tracer, registry, seed, repo_root):
        self.spark, self.tracer, self.registry = spark, tracer, registry
        self.sf_dir = os.path.join(root, "tables")
        self.repo_root = repo_root
        self.order = list(QUERY_MIX)
        random.Random(f"order-{seed}").shuffle(self.order)
        self.input_bytes = {q: sum(manifest["tables"][t] for t in tables)
                            for q, tables in QUERY_MIX.items()}

    def _run(self, name):
        self.registry[name].fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def warm_up(self):
        """Collect every query's result on the measured tables, several
        queries at a time, while DuckDB computes the oracle answers on
        another thread: the Spark side of the output check, and the
        warm-up."""
        def collect(name):
            return name, self.registry[name].fn(self.spark, self.sf_dir).toPandas()

        with ThreadPoolExecutor(WARM_THREADS + 1) as ex:
            oracle = ex.submit(self._oracle_answers)
            self.results = dict(ex.map(collect, QUERY_MIX))
            self.oracle = oracle.result()

    def _oracle_answers(self) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf_dir):
                if t.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                f"'{os.path.join(self.sf_dir, t)}'")
            return {name: con.execute(self.registry[name].oracle).df()
                    for name in self.order if self.registry[name].oracle is not None}
        finally:
            con.close()

    def one_pass(self) -> list[Op]:
        return [_timed(f"query.{name}", 1, self.input_bytes[name], True,
                       lambda n=name: self._run(n), self.tracer)
                for name in self.order]

    def output_stats(self) -> dict:
        return {}

    def check(self) -> int:
        """Rows, schema and an order-insensitive value comparison against
        the DuckDB oracle, with ``scripts/check_oracle.py``'s cell
        normalization; a query without an oracle must return rows."""
        co = _load_check_oracle(self.repo_root)
        bad = 0
        for name in self.order:
            sdf = self.results[name]
            odf = self.oracle.get(name)
            if odf is None:
                problem = None if len(sdf) else "no rows"
            elif sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
                problem = f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            elif len(sdf) != len(odf):
                problem = f"rows {len(sdf)} vs {len(odf)}"
            elif co._dtype_mismatches(sdf, odf):
                problem = "; ".join(co._dtype_mismatches(sdf, odf))
            elif co._canon(sdf) != co._canon(odf):
                problem = "values differ"
            else:
                problem = None
            if problem:
                print(f"# check {name}: {problem}", flush=True)
                bad += 1
        return bad


class Ingest:
    """Every pass makes IngestBulk's calls, then IngestCompat's requests.
    An operation is one conversion call; its units are the documents it
    converts. The per-file ``convert()`` calls are the requests; the bulk
    calls are batch jobs and count toward throughput only."""

    PASS_S = 5.0

    def __init__(self, spark, root, manifest, out_dir, tracer):
        self.tracer = tracer
        self.bulk = IngestBulk(spark, root, manifest, os.path.join(out_dir, "bulk"))
        self.compat = IngestCompat(spark, root, manifest, os.path.join(out_dir, "compat"))

    def warm_up(self):
        """One untimed pass over the measured input, several calls at a
        time: the same calls the JIT compiler has to see, in less wall
        time, since one call at a time keeps about half the cores idle."""
        with ThreadPoolExecutor(WARM_THREADS) as ex:
            _require_ok(list(ex.map(lambda c: _timed(*c, self.tracer), self._calls())))

    def _calls(self):
        return self.bulk._calls() + self.compat._calls()

    def one_pass(self) -> list[Op]:
        return [_timed(*c, self.tracer) for c in self._calls()]

    def output_stats(self) -> dict:
        a, b = self.bulk.output_stats(), self.compat.output_stats()
        return {k: a[k] + b[k] for k in a}

    def check(self) -> int:
        return self.bulk.check() + self.compat.check()


WORKLOADS = {"ingest": Ingest, "query_mix": QueryMix}

