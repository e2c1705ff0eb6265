"""The benchmark workloads.

Each workload generates its inputs to parquet in :meth:`generate`, runs one
closed-loop iteration through the public ``pprl_spark`` functions in
:meth:`iterate`, and checks the iteration's output in :meth:`check`.  The
iteration code is the same traced and untraced; the tracer decides whether
layer spans are recorded and layer outputs materialized at the boundary.

* ``link_records`` - two-party person-record linkage, the reference's own
  use case.  Records are short, so encoding is cheap and the LSH candidate
  join dominates.
* ``crawl_encode_sketch`` - the north-star path: pages through a
  checkpointed ``Pipeline`` of extract, salted chunked encode and mergeable
  sketches, then a simulated mid-stage crash and resume.  No candidate join.
* ``near_dup_corpus`` - MinHash LSH, exact Jaccard verify and connected
  components over planted near-duplicate families with one hot family: the
  shuffle- and skew-heavy dedup path, and the only one reaching
  ``spark.dedup`` and ``spark.graph``.
* ``crawl_and_dedup`` - one iteration of each of the two above, on smaller
  inputs, in one session.  ``BENCHMARK.json`` gates this one and
  ``link_records``: a cold JVM costs every run 20-35 s before its first
  timed call, and the run budget does not pay that for a third workload.

A workload's ``min_iterations`` is how many timed iterations a run makes
at least, whatever ``--seconds`` says.
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path

import numpy as np

import gen

# input sizes: per-iteration time at local[4] is dominated by fixed Spark
# costs (job scheduling, Python worker round trips, query planning), so
# larger inputs mostly lengthen a run without changing what it measures
LINK_RECORDS = 3000
CRAWL_PAGES = 2500
NEAR_DUP_DOCS = 2000


def kernel_rate(encoder_factory, ids, columns, min_seconds: float = 0.5) -> float:
    """Single-core kernel encode throughput (records/s) outside Spark: a
    fresh encoder per repetition so no repetition reuses another's memo."""
    rates, spent = [], 0.0
    while spent < min_seconds or len(rates) < 3:
        enc = encoder_factory()
        t0 = time.perf_counter()
        enc.encode_batch(ids, columns)
        dt = time.perf_counter() - t0
        spent += dt
        rates.append(len(ids) / dt)
    return float(np.median(rates))


# ====================================================================== link

class LinkRecords:
    name = "link_records"
    # a warm iteration is ~5 s of mostly Spark job latency, which jitters
    # by 10-20 % from one iteration to the next: a median of three
    min_iterations = 3
    ATTRS = ["first", "last", "dob", "city", "zip"]

    def __init__(self, size: int = LINK_RECORDS):
        from pprl_spark.config import (
            AttributeTransformerConfig, CLKFilter, HashConfig, HashFunctionConfig,
            MaskConfig, MatchConfig, TransformConfig, TransformerSpec,
        )
        from pprl_spark.spark.lsh import LSHConfig

        self.size = size
        norm = (TransformerSpec("normalization"),)
        self.transform_cfg = TransformConfig(attribute_transformers=tuple(
            AttributeTransformerConfig(a, norm) for a in ("first", "last", "city")
        ))
        self.mask_cfg = MaskConfig(
            filter=CLKFilter(1024, 5),
            hash=HashConfig(HashFunctionConfig(("sha256",)), "double_hash"),
            token_size=2, padding="_", prepend_attribute_name=True,
        )
        self.match_cfg = MatchConfig("dice", 0.8)
        self.lsh = LSHConfig(num_bits=1024, num_bands=32, band_width=32, scheme="chunked")

    @property
    def input_rows(self) -> int:
        return 2 * self.size

    def generate(self, seed: int, data_dir: Path) -> str:
        a, b, truth = gen.link_records(seed, self.size)
        gen.write_parquet(a, data_dir / "party_a")
        gen.write_parquet(b, data_dir / "party_b")
        self.rows, self.truth, self.data_dir = (a, b), truth, data_dir
        self._vectors = None
        return gen.digest(a + b)

    def iterate(self, spark, tr):
        from pprl_spark.spark import mask, match_lsh, transform

        side = {}
        for party in ("a", "b"):
            raw = spark.read.parquet(str(self.data_dir / f"party_{party}"))
            with tr.span(f"transform_{party}", "spark.transform"):
                side[party] = tr.materialize(transform(raw, self.transform_cfg))
        for party in ("a", "b"):
            with tr.span(f"mask_{party}", "spark.mask"):
                side[party] = tr.materialize(mask(side[party], self.mask_cfg, self.ATTRS))
        with tr.span("match_lsh", "spark.match") as sp:
            matches = match_lsh(side["a"], side["b"], self.match_cfg, self.lsh)
            pairs = [(r["domain_id"], r["range_id"], r["similarity"]) for r in matches.collect()]
            tr.add_plan_metrics(matches)
        if tr.traced:
            with tr.span("count_candidates", "bench.probe"):
                cand = _candidate_emissions(side["a"], side["b"], self.lsh)
            sp.counts.update({"candidates": cand, "matches": len(pairs)})
        return sorted(pairs)

    def _kernel_vectors(self):
        """id -> packed vector for both parties, from the kernel transform
        chain and BloomEncoder (the check's reference encoding)."""
        if self._vectors is None:
            from pprl_spark.kernels.encode import BloomEncoder
            from pprl_spark.spark.transform import build_attribute_chain

            chains = {a: build_attribute_chain(self.transform_cfg, a) for a in ("first", "last", "city")}
            self._vectors = {}
            for rows in self.rows:
                ids = [r["id"] for r in rows]
                cols = {a: [chains[a](r[a]) if a in chains else r[a] for r in rows] for a in self.ATTRS}
                self._vectors.update(zip(ids, BloomEncoder(self.mask_cfg, self.ATTRS).encode_batch(ids, cols)))
        return self._vectors

    def check(self, pairs, report: dict) -> list[str]:
        from pprl_spark.kernels.similarity import pair_similarity, similarity_matrix

        vec = self._kernel_vectors()
        problems = []
        if not pairs:
            return ["match_lsh emitted no pairs"]
        sims = pair_similarity("dice", [vec[d] for d, _, _ in pairs], [vec[r] for _, r, _ in pairs])
        emitted = np.array([s for _, _, s in pairs])
        if not np.array_equal(sims, emitted):
            problems.append(f"{int((sims != emitted).sum())} emitted similarities differ from the kernel")
        if (emitted < self.match_cfg.threshold).any():
            problems.append("emitted pair below threshold")
        got = {(d, r) for d, r, _ in pairs}
        report["recall_planted"] = len(got & self.truth) / len(self.truth)
        # exhaustive kernel crosswise pass over a sampled block of A x all B
        a_ids = sorted(r["id"] for r in self.rows[0])[:: max(1, self.size // 240)]
        b_ids = [r["id"] for r in self.rows[1]]
        exact = set()
        for s in range(0, len(a_ids), 24):
            block = a_ids[s:s + 24]
            m = similarity_matrix("dice", [vec[i] for i in block], [vec[j] for j in b_ids])
            for i, j in zip(*np.nonzero(m >= self.match_cfg.threshold)):
                exact.add((block[i], b_ids[j]))
        sampled = {p for p in got if p[0] in set(a_ids)}
        if not sampled <= exact:
            problems.append("emitted pair missing from the exhaustive pass")
        report["recall_exhaustive"] = len(sampled & exact) / max(len(exact), 1)
        if report["recall_exhaustive"] < 0.9:
            problems.append(f"recall vs exhaustive pass {report['recall_exhaustive']:.3f} < 0.9")
        return problems

    def kernel_rate(self) -> float:
        from pprl_spark.kernels.encode import BloomEncoder

        rows = self.rows[0][:2000]
        ids = [r["id"] for r in rows]
        cols = {a: [r[a] for r in rows] for a in self.ATTRS}
        return kernel_rate(lambda: BloomEncoder(self.mask_cfg, self.ATTRS), ids, cols)


def _candidate_emissions(dom, rng, lsh) -> int:
    """Candidate (pair, band) emissions of the banded join: sum over
    (band, sig) buckets of |A bucket| x |B bucket|."""
    from pyspark.sql import functions as F

    from pprl_spark.spark.lsh import add_band_signatures

    def buckets(df, col):
        return add_band_signatures(df, lsh).groupBy("band", "sig").agg(F.count(F.lit(1)).alias(col))

    row = buckets(dom, "na").join(buckets(rng, "nb"), ["band", "sig"]).agg(
        F.sum(F.col("na") * F.col("nb")).alias("c")
    ).first()
    return int(row["c"] or 0)


# ===================================================================== crawl

class CrawlEncodeSketch:
    name = "crawl_encode_sketch"
    min_iterations = 1
    KLL_QS = (0.1, 0.25, 0.5, 0.75, 0.9)

    def __init__(self, size: int = CRAWL_PAGES, chunks: int = 8):
        from pprl_spark.config import (
            AttributeSalt, CLKFilter, HashConfig, HashFunctionConfig, MaskConfig,
            StaticAttributeConfig,
        )
        from pprl_spark.spark.lsh import LSHConfig

        self.size, self.chunks = size, chunks
        # keyed HMAC-SHA256, as PPRL deployments encode, and a per-record
        # salt (the page id): every token is new to the memo
        self.mask_cfg = MaskConfig(
            filter=CLKFilter(1024, 2),
            hash=HashConfig(HashFunctionConfig(("sha256",), key="bench-secret"), "double_hash"),
            token_size=3, padding="", prepend_attribute_name=False,
            attributes=(StaticAttributeConfig("text", AttributeSalt(attribute="id")),),
        )
        self.lsh = LSHConfig(num_bits=1024, num_bands=16, band_width=16, scheme="chunked")

    @property
    def input_rows(self) -> int:
        return self.size

    def generate(self, seed: int, data_dir: Path) -> str:
        rows, truth = gen.crawl_pages(seed, self.size)
        gen.write_parquet(rows, data_dir / "pages")
        self.rows, self.truth, self.data_dir = rows, truth, data_dir
        self.work_root = data_dir / "pipeline"
        self._runs = 0
        return gen.digest(rows)

    def _stages(self, tr):
        from pyspark.sql import functions as F

        from pprl_spark.io import read_pages
        from pprl_spark.sketch import CountMinSketch, HyperLogLog, KLLSketch, sketch_column, sketch_grouped
        from pprl_spark.spark.mask import mask_with_bands
        from pprl_spark.spark.pipeline import Stage

        pages = str(self.data_dir / "pages")

        def extract(spark, inputs):
            return read_pages(spark, pages).select(
                F.concat_ws("#", "url", F.col("warc_ts").cast("string")).alias("id"),
                "url", "lang", "text", F.length("text").alias("tlen"),
            )

        def encode(spark, inputs):
            with tr.span("mask_with_bands", "spark.mask"):
                return tr.materialize(mask_with_bands(inputs["extract"], self.mask_cfg, self.lsh, ["text"]))

        def sketch(spark, inputs):
            pages_df = inputs["extract"]
            with tr.span("sketches", "sketch"):
                hll = sketch_column(pages_df, "url", lambda: HyperLogLog(p=14))
                by_lang = sketch_grouped(pages_df, ["lang"], "url", lambda: HyperLogLog(p=12)).collect()
                cms = sketch_column(pages_df, "lang", lambda: CountMinSketch())
                kll = sketch_column(pages_df, "tlen", lambda: KLLSketch(k=200))
                # CMS point queries take the same JVM-side hash the sketch consumed
                lang_hash = {r["lang"]: r["h"] for r in pages_df.select(
                    "lang", F.xxhash64("lang").alias("h")).distinct().collect()}
            stats = [("hll_url", "", float(hll.estimate()), hll.relative_error)]
            stats += [("hll_lang", r["lang"], float(r["estimate"]), HyperLogLog(p=12).relative_error)
                      for r in by_lang]
            stats += [("cms_lang", k, float(cms.estimate(np.array([h]))[0]), cms.epsilon * cms.estimate())
                      for k, h in lang_hash.items()]
            stats += [("kll_tlen", str(q), float(kll.quantile(q)), kll.epsilon) for q in self.KLL_QS]
            return spark.createDataFrame(stats, "stat string, key string, value double, bound double")

        return [
            Stage("extract", extract, config={"pages": pages}),
            Stage("encode", encode, inputs=("extract",), config={"m": 1024, "k": 2, "q": 3},
                  split_by="id", num_chunks=self.chunks),
            Stage("sketch", sketch, inputs=("extract", "encode")),
        ]

    def _run_pipeline(self, spark, tr, workdir: Path):
        from pprl_spark.spark.pipeline import Pipeline

        pipe = Pipeline(spark, workdir, self._stages(tr))
        out = pipe.run()
        stats = sorted((r["stat"], r["key"], r["value"], r["bound"]) for r in out["sketch"].collect())
        return pipe, out, stats

    def iterate(self, spark, tr):
        if hasattr(self, "_last_workdir"):
            shutil.rmtree(self._last_workdir, ignore_errors=True)
        self._runs += 1
        workdir = self.work_root / f"run-{self._runs}"
        self._last_workdir = workdir
        with tr.span("pipeline_run", "spark.pipeline") as sp:
            pipe, out, stats = self._run_pipeline(spark, tr, workdir)
        if tr.traced:
            layer_s = {s.name: s.end - s.start for s in tr.calls(tr.run_id)
                       if s.layer in ("spark.mask", "sketch")}
            wall = sum(m["wall_seconds"] for m in pipe.metrics().values())
            sp.counts.update({
                "write_s": max(wall - sum(layer_s.values()), 0.0),
                "bytes_written": sum(f.stat().st_size for f in workdir.rglob("*") if f.is_file()),
            })
            with tr.span("count_states", "bench.probe"):
                sp.counts["states_merged"] = _states_merged(out["extract"])
        self._last_stats = stats
        return {"stats": stats, "encoded": pipe.metrics()["encode"]["rows"]}

    def check(self, result, report: dict) -> list[str]:
        problems = []
        truth = self.truth
        if result["encoded"] != self.size:
            problems.append(f"encode wrote {result['encoded']} rows, expected {self.size}")
        lengths = np.sort(np.asarray(truth["text_lengths"]))
        seen = set()
        for stat, key, value, bound in result["stats"]:
            seen.add(stat)
            if stat == "hll_url":
                exact = truth["distinct_urls"]
                report["hll_err_sigma"] = abs(value - exact) / (bound * exact)
                ok = _hll_within(value, exact, 14)
            elif stat == "hll_lang":
                ok = _hll_within(value, truth["distinct_urls_by_lang"][key], 12)
            elif stat == "cms_lang":
                exact = truth["lang_counts"][key]
                ok = exact <= value <= exact + bound
            else:
                q = float(key)
                lo = np.searchsorted(lengths, value, "left") / len(lengths)
                hi = np.searchsorted(lengths, value, "right") / len(lengths)
                err = max(lo - q, q - hi, 0.0)
                report["kll_rank_err"] = max(report.get("kll_rank_err", 0.0), err)
                ok = err <= bound
            if not ok:
                problems.append(f"{stat}[{key}] = {value} outside its bound")
        if seen != {"hll_url", "hll_lang", "cms_lang", "kll_tlen"}:
            problems.append(f"sketch stage produced {sorted(seen)}")
        return problems

    def check_vectors(self, report: dict) -> list[str]:
        """Sampled encoded vectors and band signatures against the kernel."""
        from pprl_spark.kernels.encode import BloomEncoder
        from pprl_spark.spark.lsh import band_positions, band_weights

        sample = self.rows[:: max(1, self.size // 200)]
        ids = [f"{r['url']}#{r['warc_ts']}" for r in sample]
        want = BloomEncoder(self.mask_cfg, ["text"]).encode_batch(ids, {"text": [r["text"] for r in sample], "id": ids})
        got = _encoded_rows(self._last_workdir)
        bits = np.unpackbits(np.frombuffer(b"".join(want), np.uint8).reshape(len(want), -1), axis=1)
        bands = bits[:, band_positions(self.lsh)].astype(np.int64) @ band_weights(self.lsh)
        bad = sum(1 for i, v, bnd in zip(ids, want, bands) if got.get(i) != (v, tuple(bnd)))
        report["vectors_checked"] = len(ids)
        return [f"{bad}/{len(ids)} sampled vectors differ from the kernel"] if bad else []

    def crash_and_resume(self, spark, tr, report: dict) -> list[str]:
        """Drop the encode stage's lineage and half its chunks (a crash in
        mid-stage), re-run, and compare with the uninterrupted output."""
        workdir = self._last_workdir
        before = _encoded_rows(workdir)
        for name in ("lineage.json", "metrics.json"):
            (workdir / "encode" / name).unlink()
        for chunk in range(1, self.chunks, 2):
            shutil.rmtree(workdir / "encode" / "data" / f"chunk={chunk}")
        shutil.rmtree(workdir / "sketch")
        t0 = time.perf_counter()
        with tr.span("resume", "spark.pipeline"):
            pipe, _, stats_after = self._run_pipeline(spark, tr, workdir)
        report["resume_s"] = time.perf_counter() - t0
        report["chunks_recomputed"] = pipe.metrics()["encode"]["chunks_run"]
        problems = []
        if _encoded_rows(workdir) != before:
            problems.append("resumed encode output differs from the uninterrupted run")
        if stats_after != self._last_stats:
            problems.append("resumed sketch output differs from the uninterrupted run")
        if report["chunks_recomputed"] != self.chunks // 2:
            problems.append(f"resume recomputed {report['chunks_recomputed']} chunks")
        return problems

    def kernel_rate(self) -> float:
        from pprl_spark.kernels.encode import BloomEncoder

        rows = self.rows[:300]
        ids = [f"{r['url']}#{r['warc_ts']}" for r in rows]
        cols = {"text": [r["text"] for r in rows], "id": ids}
        return kernel_rate(lambda: BloomEncoder(self.mask_cfg, ["text"]), ids, cols)


def _hll_within(estimate: float, exact: int, p: int) -> bool:
    """HLL estimate within 3 sigma (1.04/sqrt(m)) of ``exact``.  That sigma
    is asymptotic: below 2.5m registers the estimate is linear counting,
    m*ln(m/empty), whose error comes from how many registers ``exact``
    items occupy.  There the band also admits any occupancy within six
    standard deviations (plus one register) of its mean, so that a correct
    sketch of a small group does not fail on a register collision."""
    m = 1 << p
    sigma = 1.04 / math.sqrt(m)
    lo, hi = exact * (1 - 3 * sigma), exact * (1 + 3 * sigma)
    if exact < 2.5 * m:
        q1, q2 = (1 - 1 / m) ** exact, (1 - 2 / m) ** exact
        mean = m * (1 - q1)
        sd = math.sqrt(max(m * (m - 1) * q2 + m * q1 - (m * q1) ** 2, 0.0))
        occupied = m * (1 - math.exp(-estimate / m))
        if abs(occupied - mean) <= 6 * sd + 1:
            return True
    return lo <= estimate <= hi


def _encoded_rows(workdir: Path) -> dict:
    """id -> (bloom, bands) of the encode stage's chunk checkpoints."""
    import pyarrow.parquet as pq

    out = {}
    for f in sorted((workdir / "encode" / "data").glob("chunk=*/*.parquet")):
        t = pq.read_table(f, columns=["id", "bloom", "bands"]).to_pydict()
        out.update((i, (b, tuple(bs))) for i, b, bs in zip(t["id"], t["bloom"], t["bands"]))
    return out


def _states_merged(pages) -> int:
    """Partial sketch states the four sketch calls merge: one per input
    partition for each of the three global sketches, one per (partition,
    lang) for the grouped one."""
    from pyspark.sql import functions as F

    per_part = pages.groupBy(F.spark_partition_id().alias("p")).agg(
        F.countDistinct("lang").alias("g")).collect()
    return 3 * len(per_part) + sum(r["g"] for r in per_part)


# ================================================================== near-dup

class NearDupCorpus:
    name = "near_dup_corpus"
    min_iterations = 1
    Q = 5
    THRESHOLD = 0.7

    def __init__(self, size: int = NEAR_DUP_DOCS):
        self.size = size

    @property
    def input_rows(self) -> int:
        return self.size

    def generate(self, seed: int, data_dir: Path) -> str:
        rows, families = gen.near_dup_docs(seed, self.size)
        gen.write_parquet(rows, data_dir / "docs")
        self.rows, self.families, self.data_dir = rows, families, data_dir
        return gen.digest(rows)

    def iterate(self, spark, tr):
        from pprl_spark.spark.dedup import jaccard_verify, minhash_lsh_pairs
        from pprl_spark.spark.graph import assign_components

        docs = spark.read.parquet(str(self.data_dir / "docs"))
        with tr.span("minhash_lsh_pairs", "spark.dedup") as cand_span:
            cand = tr.materialize(minhash_lsh_pairs(docs, "doc_id", "text", q=self.Q))
        with tr.span("jaccard_verify", "spark.dedup") as ver_span:
            verified = tr.materialize(jaccard_verify(cand, docs, "doc_id", "text", q=self.Q,
                                                     threshold=self.THRESHOLD))
        if tr.traced:
            with tr.span("count_pairs", "bench.probe"):
                cand_span.counts["candidates"] = cand.count()
                ver_span.counts["verified"] = verified.count()
        # the pairs are an output too: keep them for the pass that labels components
        verified = verified.persist()
        try:
            with tr.span("assign_components", "spark.graph") as sp:
                comps = assign_components(docs, "doc_id", verified)
                rows = sorted((r["doc_id"], r["component"]) for r in comps.collect())
                tr.add_plan_metrics(comps)
            pairs = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in verified.collect())
        finally:
            verified.unpersist()
        if tr.traced:
            sp.counts["components"] = len({c for _, c in rows})
        return pairs, rows

    def check(self, result, report: dict) -> list[str]:
        problems = []
        pairs, rows = result
        text = {r["doc_id"]: r["text"] for r in self.rows}

        def grams(t):
            return {t[i:i + self.Q] for i in range(len(t) - self.Q + 1)} if len(t) >= self.Q else {t}

        bad = 0
        for a, b, jac in pairs:
            ga, gb = grams(text[a]), grams(text[b])
            exact = len(ga & gb) / len(ga | gb)
            if exact != jac or exact < self.THRESHOLD or a >= b:
                bad += 1
        if bad:
            problems.append(f"{bad} verified pairs fail the Python Jaccard recomputation")
        # components must be exactly the connected components of the pairs,
        # each labelled with its minimum id
        parent = {i: i for i in text}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _ in pairs:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = sorted((i, find(i)) for i in text)
        if rows != want:
            problems.append("components differ from the connected components of the verified pairs")
        planted = [(f[0], m) for f in self.families for m in f[1:]]
        comp = dict(rows)
        report["family_recall"] = sum(comp.get(a) == comp.get(b) for a, b in planted) / len(planted)
        return problems


# =========================================================== crawl + dedup

class CrawlAndDedup:
    """``crawl_encode_sketch`` then ``near_dup_corpus`` in each iteration,
    each on its own seeded input; checks and once-per-run checks are both
    workloads' own."""

    name = "crawl_and_dedup"
    min_iterations = 1

    def __init__(self, pages: int = 600, docs: int = 600):
        self.crawl = CrawlEncodeSketch(pages, chunks=4)
        self.near_dup = NearDupCorpus(docs)

    @property
    def input_rows(self) -> int:
        return self.crawl.input_rows + self.near_dup.input_rows

    def generate(self, seed: int, data_dir: Path) -> str:
        return gen.digest([{"crawl": self.crawl.generate(seed, data_dir / "crawl"),
                            "near_dup": self.near_dup.generate(seed, data_dir / "near_dup")}])

    def iterate(self, spark, tr):
        return self.crawl.iterate(spark, tr), self.near_dup.iterate(spark, tr)

    def check(self, result, report: dict) -> list[str]:
        return self.crawl.check(result[0], report) + self.near_dup.check(result[1], report)

    def check_vectors(self, report: dict) -> list[str]:
        return self.crawl.check_vectors(report)

    def crash_and_resume(self, spark, tr, report: dict) -> list[str]:
        return self.crawl.crash_and_resume(spark, tr, report)

    def kernel_rate(self) -> float:
        return self.crawl.kernel_rate()


WORKLOADS = {w.name: w for w in (LinkRecords, CrawlEncodeSketch, NearDupCorpus, CrawlAndDedup)}
