"""The benchmark's workloads. Each has ``prepare`` (generate and land one
input set), ``run_round`` (the timed unit of work, checks inside
pauses) and ``finish`` (checks after the timed region)."""

from __future__ import annotations

import inspect
import os
import shutil

import pandas as pd

import checks
import gen
from database_convertor_spark.pipelines.weekly import run_weekly_pipeline
from database_convertor_spark.sources.writers import write_table

# Input sizes per workload, full and warm-up scale. BENCHMARK.json
# states the full-scale figures in each workload's ``why``.
SIZES = {
    "curation_batch": {"docs": 500, "vecs": 300, "near_dup_share": 0.1},
    "enrichment_weekly": {"companies": 16000, "weeks": 2, "apps_per_week": 100,
                          "seen": 200, "officers": 3000},
}
WARM = {
    "curation_batch": {"docs": 200, "vecs": 120, "near_dup_share": 0.1},
    "enrichment_weekly": {"companies": 300, "weeks": 1, "apps_per_week": 40,
                          "seen": 20, "officers": 40},
}


def _parallel(tasks) -> list:
    """Run independent tasks on four threads: landing inputs, warming
    the JIT, checking outputs. Never used for timed operations."""
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=4) as pool:
        return [f.result() for f in [pool.submit(t) for t in tasks]]



def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ------------------------------------------------------------ curation
# The HEADLINE catalog composites over documents/embeddings this
# workload runs, each with the layer of the public function its
# builder calls: the 14 with the largest bench.py time at sf0.1
# (BENCH_r11.json; all of them at 1.75 s or more), plus doc_line_dedup,
# the largest of operators.curation, which has none among the 14. The
# two landed-index searches are built here with scratch paths inside
# the run directory (the catalog builders land under a fixed /tmp
# path); their oracles are the catalog's.
CURATION = {
    "doc_hybrid_search_indexed": "operators.search",
    "training_corpus_pipeline": "pipelines.corpus",
    "doc_text_index_search": "operators.search",
    "dedup_semantic": "operators.dedup",
    "corpus_deduped": "operators.dedup",
    "doc_span_removal": "operators.text_analysis",
    "dedup_ngram_jaccard": "operators.dedup",
    "doc_dup_spans": "operators.text_analysis",
    "ann_ivfpq_topk": "operators.similarity_search",
    "dedup_winnowing": "operators.dedup",
    "doc_nb_quality": "operators.text_analysis",
    "dedup_simhash": "operators.dedup",
    "doc_tfidf_keywords": "operators.search",
    "corpus_curation_stats": "pipelines.corpus",
    "doc_line_dedup": "operators.curation",
}


def _text_index_search(spark, sf_dir, scratch):
    from database_convertor_spark.operators import search
    from database_convertor_spark.sources.readers import read_table
    path = os.path.join(scratch, "text_index")
    search.land_text_index(read_table(spark, sf_dir, "documents"), path)
    return search.search_text_index(spark, path, "dup join scan", top_k=25)


def _hybrid_search_indexed(spark, sf_dir, scratch):
    """The catalog's doc_hybrid_search_indexed builder with its three
    concurrent build jobs, landing under ``scratch``."""
    from concurrent.futures import ThreadPoolExecutor

    from database_convertor_spark.operators import search
    from database_convertor_spark.operators import similarity_search as ss
    from database_convertor_spark.sources.readers import read_table
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    tpath, apath = (os.path.join(scratch, "hybrid_text"),
                    os.path.join(scratch, "hybrid_ivfpq"))
    with ThreadPoolExecutor(max_workers=3) as pool:
        ft = pool.submit(search.land_text_index, docs, tpath)
        fa = pool.submit(ss.land_ivfpq_index, emb, apath,
                         n_cells=8, m=4, ks=8, n_iter=3)
        fq = pool.submit(lambda: [float(x) for x in
                                  emb.filter("vec_id = 0").head()["embedding"]])
        ft.result(), fa.result()
        qv = fq.result()
    return search.hybrid_search_rrf_indexed(
        spark, tpath, apath, "dup join scan", qv, emb,
        top_k=25, candidates=50, nprobe=4, shortlist=200)


CUSTOM_BUILDERS = {"doc_text_index_search": _text_index_search,
                   "doc_hybrid_search_indexed": _hybrid_search_indexed}


class CurationBatch:
    name = "curation_batch"

    def prepare(self, ctx, seed: int, size: dict, tag: str):
        root = _fresh(os.path.join(ctx.work_dir, tag))
        sf_dir = os.path.join(root, "sf")
        corpus = gen.make_corpus(seed, size["docs"], size["vecs"],
                                 size["near_dup_share"])
        gen.write_corpus(corpus, sf_dir)
        order = list(CURATION)
        gen.rng(seed, "curation-order").shuffle(order)
        return {"root": root, "sf": sf_dir, "order": order,
                "inputs": checks.file_digest(
                    os.path.join(sf_dir, "documents.parquet"),
                    os.path.join(sf_dir, "embeddings.parquet"))}

    def run_round(self, ctx, st):
        from database_convertor_spark.plans.catalog import CATALOG

        def build(name):
            custom = CUSTOM_BUILDERS.get(name)
            if custom:
                return custom(ctx.spark, st["sf"], os.path.join(st["root"], "scratch", name))
            return CATALOG[name].builder(ctx.spark, st["sf"])

        def write(df, name):
            df.write.mode("overwrite").parquet(os.path.join(st["root"], "out", name))
            return True

        if ctx.warming:  # queries are independent: warm the JIT on all cores
            _parallel([lambda n=n: write(build(n), n) for n in st["order"]])
            return
        done = [name for name in st["order"]
                if ctx.op(name, CURATION[name], "query", lambda: build(name),
                          lambda df: write(df, name)) is not None]
        with ctx.pause():
            ok = _parallel([lambda n=n: self._matches_oracle(ctx, st, n) for n in done])
        for name, (good, detail) in zip(done, ok):
            if not good:
                ctx.fail(f"{name} oracle: {detail}", op=name)

    def _matches_oracle(self, ctx, st, name):
        from database_convertor_spark.plans.catalog import CATALOG
        t = checks.read_table(os.path.join(st["root"], "out", name))
        got = checks.digest(t.column_names, [tuple(r.values()) for r in t.to_pylist()])
        want = checks.oracle_digest(
            checks.duck(st["sf"]), CATALOG[name].oracle,
            os.path.join(ctx.cache_dir, "oracle", st["inputs"], name))
        return got == want, f"rows {got[1]} vs {want[1]}"

    def finish(self, ctx, st):
        pass


# ------------------------------------------------------- weekly enrichment
# The fuzzy-match threshold Engine.run_weekly runs at.
WEEKLY_THRESHOLD = inspect.signature(run_weekly_pipeline).parameters["threshold"].default
# The engine declares no MERGE contract for applicants and matches; the
# workload merges them on their natural keys into this many hash buckets.
SINK_BUCKETS = 16


class EnrichmentWeekly:
    name = "enrichment_weekly"

    def prepare(self, ctx, seed: int, size: dict, tag: str):
        from database_convertor_spark.api import Engine
        root = _fresh(os.path.join(ctx.work_dir, tag))
        wk = gen.make_weekly(seed, size["companies"], size["weeks"],
                             size["apps_per_week"], size["seen"])
        companies, appointments = gen.make_registry(seed, size["companies"], size["officers"])
        eng = Engine(ctx.spark, os.path.join(root, "warehouse"))
        spark = ctx.spark
        seen = pd.DataFrame(wk.seen_refs, columns=["borough", "reference"])
        _parallel([*[lambda t=t, pdf=pdf: write_table(spark.createDataFrame(pdf), eng._path(t))
                     for t, pdf in (("companies", companies), ("appointments", appointments))],
                   lambda: eng.upsert("planning_applications", spark.createDataFrame(seen))])
        return {"root": root, "eng": eng, "wk": wk, "seen": len(seen),
                "companies": companies, "edges": _edges(appointments)}

    def run_round(self, ctx, st):
        from pyspark.sql import functions as F

        from database_convertor_spark.functions.cleaning import normalize_company_name
        from database_convertor_spark.operators.entity_resolution import is_likely_individual
        from database_convertor_spark.sources.writers import merge_upsert
        eng, wk, spark = st["eng"], st["wk"], ctx.spark
        apps_total = st["seen"]
        correct = matched = truth_n = 0
        for w, rows in enumerate(wk.weeks):
            with ctx.pause("prepare"):
                discovered = spark.createDataFrame(
                    pd.DataFrame(rows, columns=gen.APP_COLUMNS),
                    "borough string, reference string, applicant_name string, "
                    "agent_name string, description string")
            res = ctx.op(f"run_weekly[{w}]", "pipelines.weekly", "weekly",
                         lambda: eng.run_weekly(discovered))
            if res is None:
                continue
            if not ctx.warming:
                with ctx.pause():
                    ctx.check(f"week {w} stage counts",
                              all(res.stats[k] == v for k, v in wk.expected[w].items()),
                              f"{res.stats} vs {wk.expected[w]}")
            top = ctx.op(f"weekly_matches[{w}]", "operators.entity_resolution", "weekly",
                         lambda: res.matches.filter("match_rank = 1"),
                         lambda df: df.toPandas())
            if top is not None and not ctx.warming:
                with ctx.pause():
                    got = checks.digest(checks.MATCH_COLUMNS,
                                        top[checks.MATCH_COLUMNS].astype(object)
                                        .itertuples(index=False, name=None))
                    want = checks.digest(checks.MATCH_COLUMNS, checks.rank1_matches_oracle(
                        wk.spelling[w], st["companies"], WEEKLY_THRESHOLD))
                    ctx.check(f"week {w} rank-1 matches", got == want,
                              f"rows {got[1]} vs {want[1]}")
            # the sink rows come from the pipeline's lazy frames, which
            # read planning_applications: materialize them before the
            # first write replaces its files
            app_id = F.xxhash64("borough", "reference")
            akeys = ["planning_application_id", "normalized_name"]
            outs = ctx.op(f"weekly_outputs[{w}]", "pipelines.weekly", "weekly", lambda: (
                res.new_applications.dropDuplicates(["borough", "reference"])
                .select(app_id.alias("id"), "borough", "reference", "description"),
                res.valid_applicants
                .select(app_id.alias("planning_application_id"), "name",
                        normalize_company_name(F.col("name")).alias("normalized_name"),
                        is_likely_individual(F.col("name")).alias("is_individual"))
                .dropDuplicates(akeys)), lambda dfs: [d.toPandas() for d in dfs])
            if outs is None or top is None:
                continue
            local = ctx.spark.createDataFrame
            _upsert(ctx, st, "planning_applications", local(outs[0]),
                    lambda df: eng.upsert("planning_applications", df),
                    ["borough", "reference"])
            _upsert(ctx, st, "applicants", local(outs[1]),
                    lambda df: merge_upsert(spark, eng._path("applicants"), df,
                                            akeys, hash_buckets=SINK_BUCKETS), akeys)
            key = top["applicant_key"].str.split("|", expand=True)
            matches = local(pd.DataFrame({
                "borough": key[0], "reference": key[1],
                "company_id": top["company_id"].astype("int64"),
                "match_method": top["match_method"],
                "confidence_score": top["confidence"]})).select(
                app_id.alias("applicant_id"), "company_id", "match_method",
                "confidence_score")
            mkeys = ["applicant_id", "company_id"]
            _upsert(ctx, st, "applicant_company_matches", matches,
                    lambda df: merge_upsert(
                        spark, eng._path("applicant_company_matches"), df,
                        mkeys, hash_buckets=SINK_BUCKETS), mkeys)
            if not ctx.warming:
                truth = wk.truth[w]
                got = dict(zip(top["applicant_key"], top["company_id"]))
                matched += sum(k in truth for k in got)
                correct += sum(truth.get(k) == int(c) for k, c in got.items())
                truth_n += len(truth)
            apps_total += wk.expected[w]["applications_new"] - (
                wk.expected[w]["applicants_valid"] - wk.expected[w]["applicants_deduped"])
        ctx.op("refresh_officer_edges", "api", "weekly",
               lambda: eng.refresh_officer_edges(), lambda df: df.count())
        if not ctx.warming:
            with ctx.pause():
                t = checks.read_table(eng._path("shared_officer_edges")).select(
                    ["company_a_id", "company_b_id", "shared_officer_count"]).to_pandas()
                e = st["edges"]
                ctx.check("shared_officer_edges",
                          sorted(t.itertuples(index=False, name=None))
                          == sorted(e.itertuples(index=False, name=None)),
                          f"rows {len(t)} vs {len(e)}")
                rows, keys = checks.key_count(eng._path("planning_applications"),
                                              ["borough", "reference"])
                ctx.check("planning_applications key count",
                          rows == keys == apps_total, f"{rows}/{keys} vs {apps_total}")
            ctx.extra.setdefault("er", []).append(
                {"correct": correct, "matched": matched, "truth": truth_n})

    def finish(self, ctx, st):
        _reapply_last_batch(ctx, st)
        er = ctx.extra.get("er", [])
        c, m, t = (sum(e[k] for e in er) for k in ("correct", "matched", "truth"))
        ctx.extra["er_precision"] = c / m if m else 0.0
        ctx.extra["er_recall"] = c / t if t else 0.0


def _upsert(ctx, st, table, rows, write, keys):
    """Time ``write(rows)`` for a small driver-side batch; check that the
    table then holds each key once and exactly the union of its earlier
    keys and the batch's."""
    path = st["eng"]._path(table)
    with ctx.pause("prepare"):
        batch = rows.toPandas()
        before = checks.key_set(path, keys)
    ctx.op(f"upsert[{table}]", "sources.writers", "upsert",
           lambda: write(rows), lambda out: True)
    st["last_batch"] = (path, rows, write, keys)
    if ctx.warming:
        return
    with ctx.pause():
        want = len(before | set(batch[keys].itertuples(index=False, name=None)))
        n_rows, n_keys = checks.key_count(path, keys)
        ctx.check(f"{table} upsert key count", n_rows == n_keys == want,
                  f"{n_rows}/{n_keys} vs {want}")
        ctx.writes.append({"table": table, "bytes_in": _arrow_bytes(batch),
                           "files": len(checks.spark_files(path))})


def _reapply_last_batch(ctx, st):
    """Idempotence: writing the last batch again changes no key count."""
    path, rows, write, keys = st["last_batch"]
    before = checks.key_count(path, keys)
    write(rows)
    after = checks.key_count(path, keys)
    ctx.final_check(f"re-applied {os.path.basename(path)} batch", before == after,
                    f"{before} -> {after}")


def _arrow_bytes(pdf: pd.DataFrame) -> int:
    import pyarrow as pa
    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


def _edges(appointments: pd.DataFrame) -> pd.DataFrame:
    """Shared-officer edges as ``Engine.refresh_officer_edges`` defines
    them: company pairs (a < b) and their count of shared officers."""
    a = appointments[["officer_id", "company_id"]].drop_duplicates()
    j = a.merge(a, on="officer_id")
    j = j[j["company_id_x"] < j["company_id_y"]]
    return (j.groupby(["company_id_x", "company_id_y"]).size()
            .reset_index().set_axis(["a", "b", "n"], axis=1))


WORKLOADS = {w.name: w for w in (CurationBatch(), EnrichmentWeekly())}
