"""The benchmark's workloads and their correctness checks.

``build_search``: a cold bulk build of one seeded corpus, then a
closed-loop stream of single queries (one client) on a searcher whose
term memo is warm, and one batched msearch over the index the build
wrote.

``ingest_search``: a seeded micro-batch indexed as a near-real-time
segment, the refresh answered by a freshly opened segmented searcher,
a few queries over the segment, then compaction and one batched msearch
over the compacted index.

Both workloads report every end-to-end metric; README.md says what each
one times on each workload. The engine sees only the generated parquet
files and query text; goldens come from the pandas oracle and are
computed outside every timed region.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from harness import dir_bytes, median

# corpus sizes: ~16 turns per conversation, so 1500 conversations are
# ~25k turns (~26k documents with conversation rollups)
BULK_CONV = 1500
BATCH_CONV = 500
SETUP_REPS = 3      # corpus generations per run; setup_s takes their median
MIN_QUERIES = 10    # the query loop runs at least this many queries
NRT_QUERIES = 7     # stream queries over the refreshed segment
STREAM_LEN = 1000
MSEARCH_REPS = 2    # msearch_qps uses the median seconds of this many batches


# ------------------------------------------------------------ inputs

# row layout of one gen_query_set block: 4 head terms, 4 rare terms,
# 20 multi-term OR, 10 AND, then 6 edge cases (duplicate terms, OOV, empty)
QUERY_CATEGORIES = (4, 4, 20, 10, 6)
MSEARCH_QUERIES = sum(QUERY_CATEGORIES)  # one reference set per msearch batch
# the build_search loop draws from the first two reference sets of the
# stream; an untimed top_k_batch over them warms the term memo first
LOOP_QUERIES = 2 * MSEARCH_QUERIES


def query_stream(seed: int, n: int = STREAM_LEN) -> pd.DataFrame:
    """Seeded stream in the reference mix (gen_query_set: head and rare
    single terms, 2-5 term OR, AND, duplicate terms, OOV, empty; k in
    {1, 10, 100}). Each block of the stream is one reference set, seeded,
    with its categories interleaved evenly in a fixed pattern, so any
    stretch of the stream, and so any run however short, sees the same
    mix of query shapes."""
    from bitcoin_ledger_2es_spark.sources.synth import gen_query_set

    cat = np.repeat(np.arange(len(QUERY_CATEGORIES)), QUERY_CATEGORIES)
    pos = np.concatenate([(np.arange(size) + 0.5) / size for size in QUERY_CATEGORIES])
    order = np.lexsort((cat, pos))
    parts, i = [], 0
    while sum(len(p) for p in parts) < n:
        block = gen_query_set(seed=seed * 7919 + i)
        if len(block) != len(cat):
            raise ValueError(f"gen_query_set returned {len(block)} rows, expected {len(cat)}")
        parts.append(block.iloc[order])
        i += 1
    qs = pd.concat(parts, ignore_index=True).iloc[:n].reset_index(drop=True)
    qs["query_id"] = np.arange(len(qs), dtype=np.int64)
    return qs


MARKER = "batchmarker"  # out-of-vocabulary token planted in the micro-batch


def write_batch(path, n_conv: int, seed: int) -> pd.DataFrame:
    """The micro-batch, with MARKER in a few turns: a query for it can
    only be answered once the batch is searchable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bitcoin_ledger_2es_spark.sources.synth import gen_transcripts_pdf

    pdf = gen_transcripts_pdf(n_conv, seed=seed)
    rows = np.random.default_rng(seed).choice(len(pdf), size=8, replace=False)
    pdf.loc[rows, "text"] = pdf.loc[rows, "text"] + " " + MARKER
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(path),
                   compression="zstd", row_group_size=65536)
    return pdf


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].fillna("").str.encode("utf-8").str.len().sum())


def docs_per_shard(n_docs: int, nproc: int) -> int:
    """Power-of-two shard width giving about two shards per core."""
    return max(1024, 1 << (n_docs // (2 * nproc)).bit_length())


# ------------------------------------------------------------ goldens

def corpus_docs(src: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, text) by the engine's docID spec: turns ranked by
    (conv_id, turn_idx), then one rollup per conversation (its turn
    texts joined by a space) ranked by conv_id."""
    t = src.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    text = t["text"].fillna("")
    roll = text.groupby(t["conv_id"], sort=True).apply(" ".join)
    docs = pd.concat([text, roll], ignore_index=True)
    return pd.DataFrame({"doc_id": np.arange(len(docs), dtype=np.int64), "text": docs})


class Golden:
    """Pandas-oracle answers for one corpus."""

    def __init__(self, src: pd.DataFrame, cfg):
        from bitcoin_ledger_2es_spark import PandasOracle

        self.oracle = PandasOracle(corpus_docs(src), cfg)

    def top_k(self, q) -> pd.DataFrame:
        return self.oracle.top_k(q.query_text, k=int(q.k), mode=q.mode)

    def df(self) -> dict[str, int]:
        return {t: len(rows) for t, (rows, _) in self.oracle.postings.items()}


def rank_identical(hits: list[tuple[int, float]], exp: pd.DataFrame) -> bool:
    """(doc_id, f32 score) lists equal, in rank order."""
    return (
        [d for d, _ in hits] == exp["doc_id"].tolist()
        and np.array_equal(np.array([s for _, s in hits], dtype=np.float32),
                           exp["score"].to_numpy(np.float32))
    )


def batch_hits(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
    return out


def ranked(rows) -> list:
    return sorted(rows, key=lambda r: r["rank"])


# --------------------------------------------------------- index facts

def index_invariants(ix, n_turns: int, n_conv: int, golden: Golden) -> tuple[bool, dict]:
    """Structural checks on an on-disk index: n_docs = turns +
    conversations, sum(df) = postings count, the dictionary's df equals
    the oracle's, and an order-free content checksum (xor of row hashes)."""
    from pyspark.sql import functions as F

    post = ix.postings.agg(
        F.sum("n_docs").alias("postings"), F.count("*").alias("blocks"),
        F.sum(F.length("doc_id_deltas") + F.length("tfs") + F.length("dls")
              + F.length("poss")).alias("encoded"),
        F.bit_xor(F.xxhash64("term_id", "block_id", "first_doc_id", "n_docs",
                             "doc_id_deltas", "tfs", "dls", "block_max_score")).alias("h"),
    ).collect()[0]
    dict_rows = ix.dictionary.select("term", "df").collect()
    dm_hash = ix.docmap.agg(
        F.bit_xor(F.xxhash64("doc_id", "conv_id", "turn_idx", "doc_len"))).collect()[0][0]
    df = {r["term"]: int(r["df"]) for r in dict_rows}
    facts = {
        "postings_count": int(post["postings"]),
        "blocks": int(post["blocks"]),
        "encoded_bytes": int(post["encoded"]),
        "checksum": f"{(int(post['h']) ^ int(dm_hash)) & (2**64 - 1):016x}",
    }
    ok = (
        ix.n_docs == n_turns + n_conv
        and sum(df.values()) == facts["postings_count"]
        and df == golden.df()
    )
    return ok, facts


def layer_probes(ix, queries: pd.DataFrame) -> dict:
    """Driver-side layer measurements on one index (traced runs only):
    posting blocks read per query, the two WAND scorers' cost per
    posting and block decode throughput, on the blocks of the two most
    frequent terms in the busiest shard."""
    from pyspark.sql import functions as F

    from bitcoin_ledger_2es_spark.functions.analyze import analyze_query
    from bitcoin_ledger_2es_spark.functions.bm25 import idf
    from bitcoin_ledger_2es_spark.functions.codec import decode_doc_gaps, decode_tfs
    from bitcoin_ledger_2es_spark.operators.wand import _TermList, score_shard_bmw, score_shard_exact

    cfg = ix.cfg
    tid = {r["term"]: (int(r["term_id"]), int(r["df"]))
           for r in ix.dictionary.select("term", "term_id", "df").collect()}
    nblk = {int(r["term_id"]): int(r["count"])
            for r in ix.postings.groupBy("term_id").count().collect()}
    blocks_read = [
        sum(nblk.get(tid[t][0], 0) for t in set(analyze_query(q, cfg)) if t in tid)
        for q in queries["query_text"]
    ]

    head = sorted(tid, key=lambda t: -tid[t][1])[:2]
    hids = [tid[t][0] for t in head]
    shard = (ix.postings.filter(F.col("term_id").isin(hids)).groupBy("shard_id")
             .agg(F.sum("n_docs").alias("n")).orderBy(F.desc("n"), "shard_id").first())
    pdf = ix.postings.filter(
        (F.col("shard_id") == shard["shard_id"]) & F.col("term_id").isin(hids)
    ).toPandas()
    for c in ("doc_id_deltas", "tfs", "dls"):
        pdf[c] = pdf[c].apply(bytes)
    n_post = int(pdf["n_docs"].sum())
    base, dps = int(shard["shard_id"]) * cfg.docs_per_shard, cfg.docs_per_shard
    metas = [(h, float(idf(float(tid[t][1]), ix.n_docs)), 1.0, pdf[pdf["term_id"] == h])
             for t, h in zip(head, hids)]

    def timed(fn, reps=5):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            ts.append(time.perf_counter() - t0)
        return median(ts), out

    t_exact, exact = timed(lambda: score_shard_exact(
        metas, base, dps, None, 10, "or", ix.avgdl, cfg.k1, cfg.b))
    t_bmw, bmw = timed(lambda: score_shard_bmw(
        [_TermList(*m) for m in metas], 10, ix.avgdl, cfg.k1, cfg.b))
    if not (exact["doc_id"].tolist() == bmw["doc_id"].tolist()
            and np.array_equal(exact["score"].to_numpy(), bmw["score"].to_numpy())):
        raise AssertionError("score_shard_bmw and score_shard_exact disagree")

    enc = pdf[["doc_id_deltas", "first_doc_id", "n_docs", "tfs"]].itertuples(index=False)
    enc = list(enc)
    nbytes = sum(len(r.doc_id_deltas) + len(r.tfs) for r in enc)

    def decode_all():
        for r in enc:
            decode_doc_gaps(r.doc_id_deltas, int(r.first_doc_id), int(r.n_docs))
            decode_tfs(r.tfs)

    t_dec, _ = timed(decode_all)
    return {
        "query.blocks_read": median(blocks_read),
        "wand.exact_ns_per_posting": t_exact / n_post * 1e9,
        "wand.bmw_ns_per_posting": t_bmw / n_post * 1e9,
        "codec.decode_mb_per_s": nbytes / t_dec / 1e6,
    }


# ------------------------------------------------------------ workloads

def _timed_query(tr, searcher, q, layer: str):
    """One closed-loop request: the search call (planning and term
    lookup) and the collect, each in its own span."""
    t0 = time.monotonic()
    with tr.span(f"bench.{layer}_request", request_id=f"q{int(q.query_id)}"):
        with tr.span(f"{layer}.top_k_call"):
            df = searcher.top_k(q.query_text, k=int(q.k), mode=q.mode)
        with tr.span(f"{layer}.collect"):
            rows = df.collect()
    return time.monotonic() - t0, rows


def _msearch(tr, searcher, batch: pd.DataFrame) -> tuple[float, list]:
    """MSEARCH_REPS identical batched searches: median seconds, last answer."""
    ts = []
    with tr.span("bench.msearch", request_id="msearch"):
        for _ in range(MSEARCH_REPS):
            t0 = time.monotonic()
            with tr.span("query.top_k_batch"):
                rows = searcher.top_k_batch(batch).collect()
            ts.append(time.monotonic() - t0)
    return median(ts), rows


def build_search(ctx) -> dict:
    from bitcoin_ledger_2es_spark import BM25Searcher, build_index, read_index, write_index
    from bitcoin_ledger_2es_spark.config import DEFAULT
    from bitcoin_ledger_2es_spark.sources.synth import write_transcripts_parquet
    from bitcoin_ledger_2es_spark.sources.transcripts import read_transcripts
    import pyarrow.parquet as pq

    spark, tr = ctx.spark, ctx.tracer

    # ---- set-up: the corpus (generated SETUP_REPS times, median kept)
    path = str(ctx.work / "corpus.parquet")
    gen_s = []
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        write_transcripts_parquet(path, BULK_CONV, seed=ctx.seed)
        gen_s.append(time.monotonic() - t0)
    setup_s = ctx.spark_ready_s + median(gen_s)
    ctx.mark("setup")

    src_pdf = pq.read_table(path).to_pandas()
    n_turns, n_conv = len(src_pdf), int(src_pdf["conv_id"].nunique())
    cfg = DEFAULT.with_(docs_per_shard=docs_per_shard(n_turns + n_conv, ctx.nproc))
    stream = query_stream(ctx.seed)
    cols = ["query_id", "query_text", "k", "mode"]
    ix_path = str(ctx.work / "index")

    # ---- measured: cold bulk build until the written index answers
    tr.active = ctx.trace
    t_phase = time.monotonic()
    t0 = time.monotonic()
    with tr.span("bench.bulk_build", request_id="build"):
        src = ctx.traced("sources.read_transcripts", read_transcripts, force=True)(spark, path)
        ix = ctx.traced("build.build_index", build_index)(src, cfg)
        t_w = time.monotonic()
        ctx.traced("build.write_index", write_index)(ix, ix_path)
        write_s = time.monotonic() - t_w
    build_s = time.monotonic() - t0
    with tr.span("bench.open_index", request_id="open"):
        with tr.span("build.read_index"):
            on_disk = read_index(spark, ix_path, cfg)
        with tr.span("query.open_searcher"):
            searcher = BM25Searcher(on_disk)
    first = stream.iloc[0]
    _, first_rows = _timed_query(tr, searcher, first, "query")
    refresh_s = time.monotonic() - t0
    build_phase_s = time.monotonic() - t_phase

    # untimed warm-up: one batched search over every query the loop can
    # reach looks up all their terms, so the loop runs on a warm term
    # memo (the steady state of a searcher whose working set fits)
    tr.active = False
    warm = stream.iloc[:LOOP_QUERIES][cols]
    warm_rows = searcher.top_k_batch(warm).collect()
    tr.active = ctx.trace
    # the closed loop (1 client) for --seconds
    results = {int(first.query_id): first_rows}
    lat: list[float] = []
    t_loop = time.monotonic()  # (warm-up is outside the measured phase)
    for q in stream.iloc[1:LOOP_QUERIES].itertuples(index=False):
        if len(lat) >= MIN_QUERIES and time.monotonic() - t_loop >= ctx.seconds:
            break
        try:
            dt, rows = _timed_query(tr, searcher, q, "query")
        except Exception as e:  # a raising query counts as failed
            ctx.fail(f"query {q.query_text!r}: {e!r}")
            continue
        lat.append(dt)
        results[int(q.query_id)] = rows
    batch = stream.iloc[:MSEARCH_QUERIES][cols]
    msearch_s, brows = _msearch(tr, searcher, batch)
    phase_s = build_phase_s + time.monotonic() - t_loop
    tr.active = False
    ctx.end_measurement()

    # ---- checks (untimed)
    golden = Golden(src_pdf, cfg)
    wh = batch_hits(warm_rows)
    for q in warm.itertuples(index=False):
        ctx.check(rank_identical(wh.get(int(q.query_id), []), golden.top_k(q)),
                  f"warm-up top_k_batch {q.query_text!r} k={q.k} {q.mode}")
    ok, facts = index_invariants(on_disk, n_turns, n_conv, golden)
    ctx.check(ok, "index invariants")
    ctx.check(ctx.same_checksum(
        f"build_search-seed{ctx.seed}-conv{BULK_CONV}-dps{cfg.docs_per_shard}", facts["checksum"]),
              "index checksum differs from an earlier run with this seed")
    sent = stream[stream["query_id"].isin(list(results))]
    for q in sent.itertuples(index=False):
        ctx.check(rank_identical(
            [(r["doc_id"], r["score"]) for r in ranked(results[int(q.query_id)])],
            golden.top_k(q)), f"top_k {q.query_text!r} k={q.k} {q.mode}")
    bh = batch_hits(brows)
    for q in batch.itertuples(index=False):
        ctx.check(rank_identical(bh.get(int(q.query_id), []), golden.top_k(q)),
                  f"top_k_batch {q.query_text!r} k={q.k} {q.mode}")

    out = {
        "setup_s": setup_s,
        "build_turns_per_s": n_turns / build_s,
        "index_bytes_per_text_byte": dir_bytes(ix_path) / text_bytes(src_pdf),
        "refresh_p50_s": refresh_s,
        "merge_s": write_s,
        "query_p50_s": median(lat),
        "msearch_qps": len(batch) / msearch_s,
        "_samples": {"build": 1, "refresh": 1, "merge": 1, "queries": len(lat),
                     "msearch_queries": len(batch), "msearch": MSEARCH_REPS,
                     "setup_gen": len(gen_s)},
        "_latencies_s": lat,
        "_phase_s": phase_s,
    }
    if ctx.trace:
        out["_layers"] = {**facts_layers(facts), **layer_probes(on_disk, sent)}
    return out


def facts_layers(facts: dict) -> dict:
    return {
        "postings.postings_count": facts["postings_count"],
        "postings.blocks": facts["blocks"],
        "postings.encoded_bytes": facts["encoded_bytes"],
    }


def ingest_search(ctx) -> dict:
    from bitcoin_ledger_2es_spark import BM25Searcher, read_index
    from bitcoin_ledger_2es_spark.config import DEFAULT
    from bitcoin_ledger_2es_spark.sources.transcripts import read_transcripts
    from bitcoin_ledger_2es_spark.streaming import incremental
    from bitcoin_ledger_2es_spark.streaming.incremental import SegmentedSearcher

    spark, tr = ctx.spark, ctx.tracer
    path = str(ctx.work / "batch000.parquet")
    root = str(ctx.work / "nrt")

    # ---- set-up: the micro-batch (generated SETUP_REPS times, median kept)
    gen_s = []
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        pdf = write_batch(path, BATCH_CONV, ctx.seed)
        gen_s.append(time.monotonic() - t0)
    setup_s = ctx.spark_ready_s + median(gen_s)
    cfg = DEFAULT.with_(docs_per_shard=docs_per_shard(len(pdf) + BATCH_CONV, ctx.nproc))
    stream = query_stream(ctx.seed)
    ctx.mark("setup")

    # ---- measured: refresh, NRT queries, compaction, msearch
    tr.active = ctx.trace
    t_phase = time.monotonic()
    t0 = time.monotonic()
    with tr.span("bench.refresh", request_id="refresh"):
        df = ctx.traced("sources.read_transcripts", read_transcripts, force=True)(spark, path)
        tb = time.monotonic()
        ctx.traced("incremental.build_segment", incremental.build_segment)(
            spark, df, root, 0, cfg)
        build_s = time.monotonic() - tb
        with tr.span("incremental.open_searcher"):
            seg = SegmentedSearcher(spark, root, cfg)
        probe = pd.Series({"query_id": -1, "query_text": MARKER, "k": 10, "mode": "or"})
        _, visible = _timed_query(tr, seg, probe, "incremental")
    refresh_s = time.monotonic() - t0
    nrt_lat = []  # the marker query is part of the refresh, not of this sample
    results = {}
    for q in stream.iloc[:NRT_QUERIES].itertuples(index=False):
        try:
            dt, rows = _timed_query(tr, seg, q, "incremental")
        except Exception as e:  # a raising query counts as failed
            ctx.fail(f"NRT query {q.query_text!r}: {e!r}")
            continue
        nrt_lat.append(dt)
        results[int(q.query_id)] = rows
    t0 = time.monotonic()
    with tr.span("bench.compact", request_id="compact"):
        ctx.traced("incremental.compact", incremental.compact)(spark, root, cfg)
    merge_s = time.monotonic() - t0
    with tr.span("bench.open_index", request_id="open"):
        with tr.span("build.read_index"):
            compacted = read_index(spark, f"{root}/compacted", cfg)
        with tr.span("query.open_searcher"):
            searcher = BM25Searcher(compacted)
    batch = stream.iloc[:MSEARCH_QUERIES][["query_id", "query_text", "k", "mode"]]
    msearch_s, brows = _msearch(tr, searcher, batch)
    phase_s = time.monotonic() - t_phase
    tr.active = False
    ctx.end_measurement()

    # ---- checks (untimed): the batch is visible after its refresh, the
    # segmented top-k matches the oracle, the compacted index matches both
    golden = Golden(pdf, cfg)
    ctx.check(len(visible) > 0 and rank_identical(
        [(r["doc_id"], r["score"]) for r in ranked(visible)], golden.top_k(probe)),
        "micro-batch not visible after its refresh")
    # segment 0 has doc id base 0, so its ids are the compacted index's
    sent = stream[stream["query_id"].isin(list(results))]
    bh = batch_hits(brows)
    for q in sent.itertuples(index=False):
        hits = [(r["doc_id"], r["score"]) for r in ranked(results[int(q.query_id)])]
        ctx.check(rank_identical(hits, golden.top_k(q)),
                  f"segmented top_k {q.query_text!r} k={q.k} {q.mode}")
        ctx.check(hits == bh.get(int(q.query_id), []),
                  f"compacted and segmented top_k differ {q.query_text!r} k={q.k} {q.mode}")
    for q in batch.itertuples(index=False):
        ctx.check(rank_identical(bh.get(int(q.query_id), []), golden.top_k(q)),
                  f"compacted top_k_batch {q.query_text!r} k={q.k} {q.mode}")
    ok, facts = index_invariants(compacted, len(pdf), BATCH_CONV, golden)
    ctx.check(ok, "compacted index invariants")
    ctx.check(ctx.same_checksum(
        f"ingest_search-seed{ctx.seed}-conv{BATCH_CONV}-dps{cfg.docs_per_shard}",
        facts["checksum"]), "compacted checksum differs from an earlier run with this seed")

    out = {
        "setup_s": setup_s,
        "build_turns_per_s": len(pdf) / build_s,
        "index_bytes_per_text_byte": dir_bytes(f"{root}/compacted") / text_bytes(pdf),
        "refresh_p50_s": refresh_s,
        "merge_s": merge_s,
        "query_p50_s": median(nrt_lat),
        "msearch_qps": len(batch) / msearch_s,
        "_samples": {"build": 1, "refresh": 1, "merge": 1, "queries": len(nrt_lat),
                     "msearch_queries": len(batch), "msearch": MSEARCH_REPS,
                     "setup_gen": len(gen_s)},
        "_latencies_s": nrt_lat,
        "_phase_s": phase_s,
    }
    if ctx.trace:
        out["_layers"] = {
            **facts_layers(facts),
            **layer_probes(compacted, sent),
            "compaction.bytes_written": dir_bytes(f"{root}/compacted"),
        }
    return out


WORKLOADS = {"build_search": build_search, "ingest_search": ingest_search}
