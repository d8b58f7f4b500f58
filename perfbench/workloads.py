"""The timed workloads (search_online, analytics_mix) and the traced-only
index_lifecycle section: what each sets up, times, checks and traces.

Each is driven by one client in a closed loop (the next operation starts
when the previous one has returned its rows). The engine is reached only
through its public modules: ``api``, ``sources.images``,
``operators.knn`` / ``operators.ingest`` and the ``queries`` registry.
"""

from __future__ import annotations

import os
import statistics
import sys
from collections import Counter

import numpy as np

from oracle_vector_search_spark import api
from oracle_vector_search_spark.functions import embed as embed_fn
from oracle_vector_search_spark.functions import jpeg_numpy
from oracle_vector_search_spark.functions.detect_numpy import mri_params
from oracle_vector_search_spark.sources.images import scan_images

from perfbench import inputs

UPLOAD_SCHEMA = "stem string, path string, content binary"

# search_online / index_lifecycle sizes
INDEX_IMAGES = 200
ONLINE_UPLOADS = 64
UPSERT_IMAGES = 40
BATCH_UPLOADS = 100
LIFECYCLE_ROUNDS = 3

# analytics_mix: registry queries across the operator families
# (relational, temporal, text, graph, training data, vector, ANN),
# including the five low core-scaling queries of ROADMAP direction 2
MIX = (
    "q1_pricing_summary", "top3_orders_per_customer", "hourly_event_windows",
    "purchase_asof_order", "bm25_retrieval_top10", "triangle_count_graph",
    "grpo_group_advantage", "sft_turn_alternation_audit",
    "bpe_apply_ranked_merges_top30", "knn_exact_cosine_top5_gemm",
    "lsh_ann_topk",
)
# mix queries whose first run in a session writes an at-rest table
AT_REST = ("bm25_retrieval_top10", "lsh_ann_topk")
MIX_SF = 0.002

# the query-side image pipeline, in execution order, as (api name, layer)
QUERY_CHAIN = (
    ("decode_images", "sources.images.decode"),
    ("preprocess_images", "sources.images.preprocess"),
    ("detect_boxes", "sources.images.detect"),
    ("crop_boxes", "sources.images.crop"),
    ("embed_crops", "sources.images.embed"),
    ("knn_search", "operators.knn.topk"),
)


def noop(df) -> None:
    """Force every row and column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return float(statistics.median(xs))


def mean(xs) -> float:
    return float(statistics.fmean(xs))


def took(span: dict) -> float:
    """A span's wall time."""
    return span["end"] - span["start"]


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def warn(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    """What one benchmark process shares across its phases."""

    def __init__(self, spark, tracer, seed: int, root: str, work: str):
        self.spark = spark
        self.root = root
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.wrong: list[str] = []  # failed output checks

    def rng(self, stream: str) -> np.random.Generator:
        """An independent generator per input stream, derived from the
        seed, so adding a stream never changes another's inputs."""
        key = [ord(c) for c in stream]
        # numpy seeds must be non-negative
        return np.random.default_rng([self.seed % 2**32, *key])

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def expect(self, ok: bool, msg: str) -> bool:
        if not ok:
            self.wrong.append(msg)
            warn(f"check failed: {msg}")
        return ok


# --------------------------------------------------------- image inputs

def write_images(images, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for img in images:
        with open(os.path.join(out_dir, f"{img.stem}.jpg"), "wb") as fh:
            fh.write(img.content)


def write_labels(run: Run, corpus, path: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    stems, idx, values = zip(*corpus.labels)
    pq.write_table(
        pa.table({"stem": stems, "box_idx": pa.array(idx, pa.int64()),
                  "value": values}),
        path,
    )
    return run.spark.read.parquet(path)


def upload_frame(run: Run, images):
    return run.spark.createDataFrame(
        [(i.stem, f"upload/{i.stem}.jpg", i.content) for i in images],
        UPLOAD_SCHEMA,
    )


def write_corpus(run: Run, tag: str):
    """Generate the indexed corpus and write its JPEGs and label lines."""
    corpus = inputs.make_corpus(run.rng("corpus"), INDEX_IMAGES, "img")
    write_images(corpus.images, run.path(tag, "corpus"))
    write_labels(run, corpus, run.path(tag, "labels.parquet"))
    return corpus


def build_index(run: Run, tag: str, out: str = "index"):
    """The offline build over a written corpus."""
    labels = run.spark.read.parquet(run.path(tag, "labels.parquet"))
    with run.tracer.span("api.build_index", images=INDEX_IMAGES) as rec:
        index = api.build_index(run.spark, run.path(tag, "corpus"), labels,
                                out_path=run.path(tag, out))
    return index, rec


class Capture:
    """Records the DataFrame each named ``api`` dependency returns, so a
    traced run can force every prefix of the pipeline one at a time.
    Installed for one call, then removed; engine code is not changed."""

    def __init__(self, names):
        self.names = names
        self.frames: dict[str, object] = {}
        self._saved = {}

    def __enter__(self):
        for name in self.names:
            orig = getattr(api, name)
            self._saved[name] = orig

            def wrapped(*a, __name=name, __orig=orig, **kw):
                out = __orig(*a, **kw)
                self.frames[__name] = out
                return out

            setattr(api, name, wrapped)
        return self

    def __exit__(self, *exc):
        for name, orig in self._saved.items():
            setattr(api, name, orig)


def query_chain_layers(run: Run, query_df, index, tier: str) -> dict:
    """Self time of each query-side layer for one ``api.search`` call:
    force the cumulative prefixes decode → … → embed with a noop sink,
    each under its own span, and attribute the differences (noise can
    make a cheap layer's difference negative; it is reported as is).
    ``api.search`` pins the embedded queries before the top-k, so the
    top-k frame is timed on its own."""
    with Capture([n for n, _ in QUERY_CHAIN]) as cap:
        api.search(run.spark, index, query_df, k=5)
    out, prev = {}, 0.0
    for name, layer in QUERY_CHAIN:
        with run.tracer.span(layer, prefix=name != "knn_search",
                             tier=tier) as rec:
            noop(cap.frames[name])
        out[f"{layer}_s"] = took(rec) - prev if rec["prefix"] else took(rec)
        prev = took(rec)
    return out


def topk_layer(run: Run, query_df, index, tier: str) -> float:
    """The top-k frame of one ``api.search`` call, forced on its own
    (the embedded queries are already pinned by then)."""
    with Capture(["knn_search"]) as cap:
        api.search(run.spark, index, query_df, k=5)
    with run.tracer.span("operators.knn.topk", tier=tier) as rec:
        noop(cap.frames["knn_search"])
    return took(rec)


def check_hits(run: Run, upload, rows) -> bool:
    """One upload's answer: no rows for a corrupt upload, else ranks
    1..5 with non-increasing scores."""
    if upload.corrupt:
        return run.expect(not rows, f"{upload.stem}: corrupt upload answered")
    rows = sorted(rows, key=lambda r: r["rank"])
    return run.expect(
        [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        and all(a["score"] >= b["score"] for a, b in zip(rows, rows[1:])),
        f"{upload.stem}: ranks/scores malformed",
    )


def kernel_layers(run: Run) -> dict:
    """Single-thread kernel timings in this process: baseline JPEG decode
    per image and hash-projection embedding per labelled crop."""
    import time

    corpus = inputs.make_corpus(run.rng("kernels"), 100, "k")
    blobs = [i.content for i in corpus.images]
    per_image = []
    for _ in range(3):
        t = time.perf_counter()
        arrays = [jpeg_numpy.decode_baseline_jpeg(b) for b in blobs]
        per_image.append((time.perf_counter() - t) / len(blobs))
    crops = []
    for img, arr in zip(corpus.images, arrays):
        p = mri_params(img.k)
        crops.append(arr[p["ya"]:p["ya"] + p["ha"],
                         p["xa"]:p["xa"] + p["wa"]].tobytes())
    per_crop = []
    for _ in range(3):
        t = time.perf_counter()
        embed_fn.hash_projection_embed_batch(crops)
        per_crop.append((time.perf_counter() - t) / len(crops))
    return {
        "functions.jpeg_numpy.decode_ms_per_image": 1e3 * median(per_image),
        "functions.embed.hash_embed_ms_per_crop": 1e3 * median(per_crop),
    }


# ------------------------------------------------------------ workloads

class SearchOnline:
    """The reference's online path: one JPEG upload per ``api.search``."""

    name = "search_online"
    probe_ops = 3

    def make_inputs(self, run: Run, tag: str) -> None:
        self.tag = tag
        self.corpus = write_corpus(run, tag)
        self.uploads = inputs.make_uploads(
            run.rng("online"), ONLINE_UPLOADS, "u"
        )
        write_images(self.uploads, run.path(tag, "uploads"))
        self.answers: dict[str, list] = {}

    def warm_up(self, run: Run) -> None:
        build_index(run, self.tag)
        # the online app loads the index once and serves from the cache
        self.index = api.load_index(run.spark, run.path(self.tag, "index"))
        self.index.count()
        # two searches: the first pays worker and plan warm-up
        upload = next(u for u in self.uploads if not u.corrupt)
        for _ in range(2):
            api.search(run.spark, self.index, upload_frame(run, [upload])).collect()

    def op(self, run: Run, i: int) -> int:
        upload = self.uploads[i % len(self.uploads)]
        with run.tracer.span("api.search", request=f"req{i}", uploads=1):
            rows = api.search(
                run.spark, self.index, upload_frame(run, [upload]), k=5
            ).collect()
        self.answers.setdefault(upload.stem, rows)
        return 1

    def check(self, run: Run, attempted: int) -> int:
        """Answers checked against the GEMM tier, computed once."""
        asked = [u for u in self.uploads if u.stem in self.answers]
        ref: dict[str, list] = {}
        for r in api.search(
            run.spark, self.index, upload_frame(run, asked), k=5, tier="gemm"
        ).collect():
            ref.setdefault(r["query_stem"], []).append(r)
        bad = set()
        key = lambda r: (r["rank"], r["match_id"], r["score"])  # noqa: E731
        for u in asked:
            got = self.answers[u.stem]
            ok = check_hits(run, u, got) and run.expect(
                sorted(map(key, got)) == sorted(map(key, ref.get(u.stem, []))),
                f"{u.stem}: differs from the GEMM tier",
            )
            if not ok:
                bad.add(u.stem)
        return sum(
            1 for i in range(attempted)
            if self.uploads[i % len(self.uploads)].stem in bad
        )

    def layers(self, run: Run) -> dict:
        reqs = run.tracer.named("api.search")
        out = {
            "api.search.jobs": median(r["jobs"] for r in reqs),
            "api.search.stages": median(r["stages"] for r in reqs),
            "api.search.tasks": median(r["tasks"] for r in reqs),
            "pyworker.start_s": mean(r["pyworker_start_s"] for r in reqs),
            "pyworker.run_s": mean(r["pyworker_run_s"] for r in reqs),
        }
        upload = next(u for u in self.uploads if not u.corrupt)
        out.update(query_chain_layers(
            run, upload_frame(run, [upload]), self.index, "expr"))
        return out


class IndexLifecycle:
    """The writing path, run in traced runs only: an instrumented build,
    then rounds of an upsert into a new snapshot followed by a batch
    search on that snapshot."""

    name = "index_lifecycle"
    probe_ops = 1

    def make_inputs(self, run: Run, tag: str) -> None:
        self.tag = tag
        self.corpus = write_corpus(run, tag)
        rng = run.rng("upserts")
        self.batches = []
        for r in range(LIFECYCLE_ROUNDS):
            batch = inputs.make_upsert_batch(rng, self.corpus, UPSERT_IMAGES, r)
            write_images(batch.images, run.path(tag, f"batch{r}"))
            labels = write_labels(run, batch, run.path(tag, f"batch{r}.parquet"))
            self.batches.append((batch, labels))
        self.uploads = inputs.make_uploads(
            run.rng("batch_uploads"), BATCH_UPLOADS, "b"
        )
        write_images(self.uploads, run.path(tag, "uploads"))
        self.snapshots: list[tuple[int, str]] = []
        self.search_rows: list = []

    def warm_up(self, run: Run) -> None:
        self.base, self.ingest = build_with_ingest_spans(run, self.tag)
        self.current = self.base

    def op(self, run: Run, i: int) -> int:
        r = i % LIFECYCLE_ROUNDS
        batch, labels = self.batches[r]
        out = run.path(self.tag, f"snapshot{i}")
        with run.tracer.span("round", request=f"round{i}"):
            with run.tracer.span("api.upsert_index", images=len(batch.images)):
                self.current = api.upsert_index(
                    run.spark, self.current, run.path(self.tag, f"batch{r}"),
                    labels, out_path=out,
                )
            self.snapshots.append((r, out))
            with run.tracer.span("api.search", uploads=BATCH_UPLOADS):
                self.search_rows = api.search(
                    run.spark, self.current,
                    scan_images(run.spark, run.path(self.tag, "uploads")), k=5,
                ).collect()
        return len(batch.images) + BATCH_UPLOADS

    def check(self, run: Run, attempted: int) -> int:
        """Untouched stems keep their ids in every snapshot; row counts
        follow the generated labels; the last batch search is well formed."""
        def rows_of(df):
            return {(r["stem"], r["box_idx"]): r["id"]
                    for r in df.select("stem", "box_idx", "id").collect()}

        base = rows_of(self.base)
        # stem -> label lines; a batch stem's lines replace its old ones
        boxes = dict(Counter(stem for stem, _, _ in self.corpus.labels))
        touched: set[str] = set()
        bad = 0
        for r, path in self.snapshots:
            batch_boxes = Counter(
                stem for stem, _, _ in self.batches[r][0].labels)
            boxes.update(batch_boxes)
            touched |= set(batch_boxes)
            snap = rows_of(run.spark.read.parquet(path))
            ok = run.expect(
                len(snap) == sum(boxes.values()),
                f"{path}: {len(snap)} rows, labels give {sum(boxes.values())}",
            ) and run.expect(
                all(snap.get(key) == i for key, i in base.items()
                    if key[0] not in touched)
                and len(set(snap.values())) == len(snap),
                f"{path}: untouched ids moved or ids not unique",
            )
            bad += not ok
        by_stem: dict[str, list] = {}
        for row in self.search_rows:
            by_stem.setdefault(row["query_stem"], []).append(row)
        ok = all(
            check_hits(run, u, by_stem.get(u.stem, []))
            for u in self.uploads
        )
        return bad + (not ok)

    def layers(self, run: Run) -> dict:
        out = {
            "api.upsert_index.jobs": median(
                s["jobs"] for s in run.tracer.named("api.upsert_index")),
            "api.search.jobs": median(
                s["jobs"] for s in run.tracer.named("api.search")),
            "api.search.stages": median(
                s["stages"] for s in run.tracer.named("api.search")),
            "api.search.tasks": median(
                s["tasks"] for s in run.tracer.named("api.search")),
        }
        rounds = run.tracer.named("round")
        out["pyworker.start_s"] = mean(s["pyworker_start_s"] for s in rounds)
        out["pyworker.run_s"] = mean(s["pyworker_run_s"] for s in rounds)
        _, path = self.snapshots[0]
        out["io.upsert_bytes_written"] = tree_bytes(path)
        build = run.tracer.named("api.build_index")[0]
        forced = run.tracer.named("api.embedded_rows")[0]
        out["api.build_index.images_per_s"] = INDEX_IMAGES / (
            took(build) - took(forced))
        out["api.upsert_index.s"] = median(
            map(took, run.tracer.named("api.upsert_index")))
        out["api.search.batch_uploads_per_s"] = median(
            BATCH_UPLOADS / took(s) for s in run.tracer.named("api.search"))
        out.update(self.ingest)
        out["operators.knn.topk_gemm_s"] = topk_layer(
            run, scan_images(run.spark, run.path(self.tag, "uploads")),
            self.current, "gemm")
        return out


def build_with_ingest_spans(run: Run, tag: str):
    """The offline build with the id-assignment input forced first, so
    id_assign = the assignment call − forcing its input, and
    index_write = writing the already-ranked rows. Returns the index and
    the ingest-layer metrics."""
    from oracle_vector_search_spark.operators import ingest

    spans = {}

    def assign(df, *a, **kw):
        with run.tracer.span("api.embedded_rows", prefix=True) as rec:
            noop(df)
        with run.tracer.span("operators.ingest.assign_index_ids") as rec2:
            out = ingest.assign_index_ids_two_phase(df, *a, **kw)
        spans["input"], spans["assign"] = rec, rec2
        return out

    def write(df, path, *a, **kw):
        with run.tracer.span("operators.ingest.write_index_table") as rec:
            ingest.write_index_table(df, path, *a, **kw)
        spans["write"] = rec

    saved = api.assign_index_ids_two_phase, api.write_index_table
    api.assign_index_ids_two_phase, api.write_index_table = assign, write
    try:
        index, build = build_index(run, tag)
    finally:
        api.assign_index_ids_two_phase, api.write_index_table = saved
    return index, {
        "operators.ingest.id_assign_s":
            took(spans["assign"]) - took(spans["input"]),
        "operators.ingest.index_write_s": took(spans["write"]),
        "io.index_bytes_per_row":
            tree_bytes(run.path(tag, "index")) / index.count(),
        # the build's own jobs, without the extra forcing of its input
        "api.build_index.jobs": build["jobs"] - spans["input"]["jobs"],
    }


class AnalyticsMix:
    """Registry queries over generated fixture tables. One operation is
    a pass over the mix in a seed-shuffled order, each query forced with
    a noop sink."""

    name = "analytics_mix"
    probe_ops = 1

    def make_inputs(self, run: Run, tag: str) -> None:
        import __spark_entry__ as entry

        self.sf_dir = run.path(tag, "sf")
        inputs.write_tables(inputs.make_tables(run.rng("tables"), MIX_SF),
                            self.sf_dir)
        self.queries = entry.queries()
        self.oracle = entry.oracle_sql()
        rng = run.rng("mix_order")
        self.orders = [list(rng.permutation(MIX)) for _ in range(64)]
        self.first: dict[str, float] = {}
        self.rows: dict[str, object] = {}

    def warm_up(self, run: Run) -> None:
        """First run of every query, collected for the output check; the
        at-rest tables are written here."""
        import time

        for name in MIX:
            t = time.perf_counter()
            self.rows[name] = self.queries[name](run.spark, self.sf_dir).toPandas()
            self.first[name] = time.perf_counter() - t

    def op(self, run: Run, i: int) -> int:
        with run.tracer.span("queries.pass", request=f"pass{i}"):
            for name in self.orders[i % len(self.orders)]:
                with run.tracer.span(f"queries.{name}"):
                    noop(self.queries[name](run.spark, self.sf_dir))
        return len(MIX)

    def check(self, run: Run, attempted: int) -> int:
        """Each query's rows equal its DuckDB oracle SQL on the same
        generated tables (the repository's canonical comparison)."""
        sys.path.insert(0, os.path.join(run.root, "tools"))
        from oracle_check import compare, duck_connection

        con = duck_connection(self.sf_dir)
        bad = set()
        for name in MIX:
            issues = [
                i for i in compare(name, self.rows[name],
                                   con.sql(self.oracle[name]).df())
                if not i.startswith("dtype note")
            ]
            if not run.expect(not issues, f"{name}: {issues[:2]}"):
                bad.add(name)
        # every pass runs every query
        return attempted if bad else 0

    def layers(self, run: Run) -> dict:
        """Per query: warm median time and jobs; per pass: the sums."""
        out = {"queries.jobs_total": 0.0,
               "queries.shuffle_write_bytes_total": 0.0,
               "pyworker.start_s": 0.0, "pyworker.run_s": 0.0}
        sums = (("queries.jobs_total", "jobs"),
                ("queries.shuffle_write_bytes_total", "shuffle_write_bytes"),
                ("pyworker.start_s", "pyworker_start_s"),
                ("pyworker.run_s", "pyworker_run_s"))
        warm = {}
        for name in MIX:
            spans = run.tracer.named(f"queries.{name}")
            warm[name] = median(map(took, spans))
            out[f"queries.{name}.s"] = warm[name]
            out[f"queries.{name}.jobs"] = median(s["jobs"] for s in spans)
            for metric, field in sums:
                out[metric] += mean(s[field] for s in spans)
        out["queries.at_rest_build_s"] = sum(
            max(self.first[n] - warm[n], 0.0) for n in AT_REST
        )
        return out


# every layer the traced run reports, and who exercises it
LAYER_SOURCES = (SearchOnline, IndexLifecycle, AnalyticsMix)
# the timed workloads (index_lifecycle runs only inside traced runs)
WORKLOADS = {w.name: w for w in (SearchOnline, AnalyticsMix)}
