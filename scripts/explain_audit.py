"""Regenerate docs/PLANS.md: physical-plan evidence for the scale claims.

Run: python scripts/explain_audit.py   (writes docs/PLANS.md)

Each section captures `.explain("formatted")` for a load-bearing plan and
states what property the plan must show (pushdown, pruning, broadcast,
single-shuffle). The audit is part of the build loop: if a refactor
regresses a plan, the diff of this file shows it.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from elasticsearch_assets_spark.index.build import build_index  # noqa: E402
from elasticsearch_assets_spark.operators import dedup as OD  # noqa: E402
from elasticsearch_assets_spark.query import engine  # noqa: E402
from elasticsearch_assets_spark.query.engine import InvertedIndex  # noqa: E402
from elasticsearch_assets_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

PLACEMENT_NOTE = """## Search placement: driver below DRIVER_POSTINGS_MAX, distributed above

Every single-index top-k kernel runs through one executor,
`InvertedIndex._score_segments`, which estimates the query's postings from
the stats it already took. Position-free kernels (`search()`,
`search_optional_should()`, `dis_max`) use the sum of df over the fetched
terms, must_not terms included. Kernels that decode positions (phrase,
phrase_prefix, near, span_first, span_not, span_or / containing / within /
near, intervals) use the sum of cf over the fetched terms: every position
of every fetched posting is decoded. Below `engine.DRIVER_POSTINGS_MAX`
(1,000,000, one constant for both) one pushed `term IN` scan is collected
and the segment kernels run on the driver; the result is a LocalTableScan,
so its collect() runs no Spark job. At or above it the applyInPandas plan
runs. Filtered search (`search_filtered`, `search_phrase_filtered`, the
cogroup strategy) always runs distributed. This audit forces the
distributed placement, so the search plans below are the ones large
queries take.

The cap is the measured crossover of `search(terms, k=10, mode="or")
.collect()`: `pages_df` indexes with 16 segments, head-term OR queries,
`local[4]` on a shared 4-core, 15 GB host in a quiet window, median of 6
interleaved runs per placement.

| docs | terms | sum of df | driver ms | distributed ms | driver / distributed |
|---|---|---|---|---|---|
| 100k | 1 (`data`) | 96,803 | 178 | 504 | 0.35 |
| 100k | 1 (`the`) | 98,999 | 258 | 531 | 0.49 |
| 100k | 8 | 705,448 | 453 | 719 | 0.63 |
| 100k | 13 | 1,040,939 | 594 | 664 | 0.90 |
| 400k | 1 (`the`) | 392,714 | 472 | 727 | 0.65 |
| 400k | 2 | 774,502 | 534 | 676 | 0.79 |
| 400k | 3 | 1,141,694 | 597 | 601 | 0.99 |
| 400k | 5 | 1,834,749 | 817 | 776 | 1.05 |
| 400k | 8 | 2,761,728 | 1,146 | 962 | 1.19 |
| 400k | 13 | 4,058,537 | 1,631 | 1,056 | 1.54 |

The two placements meet near 1.1M postings. The driver side is one
Python process whatever the cluster size, while the distributed side gains
executor cores, so on a larger cluster the crossover moves down, not up.

Positional kernels cross over earlier in postings, because the driver also
decodes every position on one core. Measured the same way with
`search_phrase(phrase, k=10).collect()` on `positions=True` indexes
(results asserted equal between the placements):

| docs | phrase | sum of df | sum of cf | driver ms | distributed ms | driver / distributed | placed |
|---|---|---|---|---|---|---|---|
| 100k | `spark query` | 184,517 | 689,638 | 370 | 751 | 0.49 | driver |
| 100k | `index join scan filter` | 325,129 | 836,156 | 320 | 652 | 0.49 | driver |
| 100k | `the data` | 195,802 | 1,276,515 | 370 | 601 | 0.61 | distributed |
| 100k | 8 head terms | 705,448 | 2,802,309 | 619 | 642 | 0.97 | distributed |
| 400k | `term0000 term0001` | 217,471 | 288,398 | 547 | 886 | 0.62 | driver |
| 400k | `slow small` | 351,961 | 545,012 | 545 | 896 | 0.61 | driver |
| 400k | `slow small large` | 518,009 | 800,772 | 581 | 706 | 0.82 | driver |
| 400k | 6 mid head terms | 1,053,071 | 1,644,331 | 820 | 866 | 0.95 | distributed |
| 400k | `spark query` | 721,572 | 2,758,401 | 982 | 999 | 0.98 | distributed |
| 400k | `the data` | 774,502 | 5,106,771 | 1,431 | 981 | 1.46 | distributed |

8 head terms: `the data spark query index join scan filter`; 6 mid head
terms: `value fast slow small large window`.

Under the sum-of-cf rule every query placed on the driver ran at 0.49-0.82
of its distributed time. A sum-of-df rule would have put `the data` at
400k docs (sum of df 0.77M) on the driver, 1.46x slower. The rule is
conservative above the cap: a few distributed-placed phrases (0.61-0.98)
would still have been faster on the driver.
"""


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    spark = get_spark(app_name="explain_audit", master="local[4]", shuffle_partitions=8)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    idx_dir = "/tmp/esa_plan_audit_idx"
    if not os.path.exists(os.path.join(idx_dir, "meta.json")):
        build_index(spark, docs, idx_dir, num_segments=8)
    idx = InvertedIndex(spark, idx_dir)
    # audit the distributed placement of the segment executor, the plan
    # every query above DRIVER_POSTINGS_MAX takes; at this index size each
    # query would otherwise be scored on the driver and plan as a
    # LocalTableScan
    engine.DRIVER_POSTINGS_MAX = 0

    sections = []

    def add(title: str, claim: str, df) -> None:
        sections.append((title, claim, plan_of(df)))

    add(
        "Date-range scan (P1/P2)",
        "Range predicate and column projection reach the parquet scan: "
        "`PushedFilters` carries both bounds, `ReadSchema` has only the "
        "selected columns. At 100 TB with `partitionBy(days(ts))` the same "
        "plan gets partition pruning on top.",
        ev.where((F.col("ts") >= "2024-01-03") & (F.col("ts") < "2024-01-05")).select(
            "event_id", "ts"
        ),
    )
    add(
        "Posting-list lookup (F1)",
        "`term IN (...)` is pushed to the segment scan; segment rows are "
        "written term-sorted, so parquet row-group min/max statistics skip "
        "row groups that cannot contain the query terms. The scan reads "
        "only matching lists, never the corpus.",
        idx.segments.where(F.col("term").isin(["spark", "join"])),
    )
    add(
        "Top-k materialization join (J3)",
        "The k winners are broadcast to the corpus scan (BroadcastHashJoin, "
        "no shuffle of the big side).",
        idx.materialize(idx.search(["spark", "join"], k=10), docs),
    )
    add(
        "MinHash signatures (dedup, no shuffle)",
        "The whole signature computation is a projection over the reading "
        "scan — no Exchange anywhere in the plan.",
        OD.minhash_signatures(docs, n=1, k=8),
    )
    add(
        "LSH candidate pairs (ONE shuffle, exchange reused by both sides)",
        "Candidates come from a self-equi-join on (band, bucket). The "
        "banded projection is repartitioned on the join key once; the "
        "plan must show a single Exchange with a ReusedExchange on the "
        "other join side — signatures are computed once, the join is "
        "co-partitioned, and there is never an all-pairs product.",
        OD.lsh_candidate_pairs(docs, n=1, k=8, bands=4),
    )
    add(
        "Filtered search, cogrouped path (range AND query, executor-side)",
        "The structured filter's ids get seg_id from the durable residue->"
        "segment lookup table (index/seg_map.py; single-entry maps compile "
        "to a pure projection — no join) and cogroup with the pushed-down "
        "posting scan per segment (FlatMapCoGroupsInPandas). The only "
        "moving data is the 8-byte filter ids shuffled by segment — no "
        "Collect/broadcast of the filter anywhere in the plan.",
        idx.search_filtered(
            ["spark", "join"], docs.where(F.col("doc_id") % 3 == 0),
            k=10, strategy="cogroup",
        ),
    )
    # post-compaction: the same cogroup plan must survive merge_segments
    # (round-2 verdict item #2 — previously this degraded to a fallback)
    import shutil

    from elasticsearch_assets_spark.index.merge import merge_segments

    cidx_dir = "/tmp/esa_plan_audit_idx_compacted"
    if not os.path.exists(os.path.join(cidx_dir, "meta.json")):
        shutil.rmtree(cidx_dir, ignore_errors=True)
        build_index(spark, docs, cidx_dir, num_segments=8, num_chunks=2)
        merge_segments(spark, cidx_dir, target_segments=4)
    cidx = InvertedIndex(spark, cidx_dir)
    add(
        "Filtered search cogroup AFTER compaction (seg_map durability)",
        "merge_segments remapped every seg id; the transformed seg_map "
        "keeps the doc->segment mapping derivable, so the plan is still "
        "FlatMapCoGroupsInPandas with the id-by-segment shuffle — not the "
        "driver-collect broadcast fallback.",
        cidx.search_filtered(
            ["spark", "join"], docs.where(F.col("doc_id") % 3 == 0),
            k=10, strategy="cogroup",
        ),
    )
    add(
        "Optional-should (bool must+should), one pushed scan",
        "Must AND should AND must_not postings all ride ONE pushed "
        "`term IN` segment scan (no second scan for the optional side); "
        "the kernel intersects the must lists and gathers clause "
        "contributions over the survivors — should postings never widen "
        "the candidate set. Global cut = the usual TakeOrderedAndProject.",
        idx.search_optional_should(
            ["spark", "join"], [(["table"], 1.0), (["data"], 2.0)], k=10
        ),
    )
    add(
        "Optional-should under a structured filter (forced cogroup)",
        "The filtered composition keeps the cogrouped scale plan: "
        "FlatMapCoGroupsInPandas with the 8-byte filter ids shuffled by "
        "segment; must + clause postings share the pushed scan.",
        idx.search_filtered(
            ["spark", "join"], docs.where(F.col("doc_id") % 3 == 0),
            k=10, strategy="cogroup", opt_should=[(["table"], 1.0)],
        ),
    )
    pidx_dir = "/tmp/esa_plan_audit_idx_pos"
    if not os.path.exists(os.path.join(pidx_dir, "meta.json")):
        build_index(spark, docs, pidx_dir, num_segments=8, positions=True)
    pidx = InvertedIndex(spark, pidx_dir)
    add(
        "Phrase query (positional postings, index-assisted)",
        "A phrase is pure posting-list work: the `term IN (...)` scan is "
        "pushed down exactly like a term query (positions ride along as "
        "one extra binary column of the SAME rows — no separate pass), "
        "adjacency verification happens inside the per-segment kernel, "
        "and the global merge is the usual TakeOrderedAndProject. No text "
        "column is read anywhere in the plan.",
        pidx.search_phrase("spark join", k=10),
    )
    add(
        "Dictionary expansion for prefix/wildcard/fuzzy rewrites",
        "Multi-term rewrites enumerate the term dictionary = the "
        "distributed stats table. A prefix expansion must show "
        "StringStartsWith in PushedFilters (parquet-level pruning of the "
        "vocabulary scan); only matched (term, df) rows reach the driver "
        "— vocabulary-level, never a corpus scan.",
        idx.stats.where(F.col("term").startswith("sp")).select("term", "df"),
    )
    add(
        "Query string: rewrite + structured filter (search_querystring)",
        "`spark AND jo* AND doc_id:>=250` — the jo* clause expands against "
        "the dictionary, the structured clause filters the corpus with a "
        "pushed-down predicate, and ranking restriction runs through the "
        "cogrouped filtered-search plan (FlatMapCoGroupsInPandas, filter "
        "ids shuffled by segment, clause-level boolean groups in the "
        "kernel). No driver materialization of the filter.",
        idx.search_querystring("spark AND jo* AND doc_id:>=250", docs, k=10),
    )
    add(
        "Embedding brute-force cosine top-k (similarity baseline)",
        "A single narrow projection + TakeOrderedAndProject: the global "
        "top-k never shuffles vectors.",
        __import__(
            "elasticsearch_assets_spark.operators.similarity", fromlist=["cosine_topk"]
        ).cosine_topk(emb, [0.1] * 64, k=10),
    )

    from elasticsearch_assets_spark.operators import facets as OFA
    from elasticsearch_assets_spark.query.engine import multi_match

    add(
        "Composite agg page (keyset pagination)",
        "The after-key predicate is a plain column disjunction evaluated "
        "BEFORE the grouped shuffle — `PushedFilters` carries the "
        "lang/source comparisons into the parquet scan, so rows belonging "
        "to already-returned pages are pruned at the source, and the page "
        "cut is TakeOrderedAndProject. No driver-side bucket state at any "
        "page depth.",
        OFA.facet_composite(
            docs, ["lang", "source"], size=10, after=("en", "src3")
        ),
    )
    add(
        "Benchmark decontamination (broadcast eval-set shingles)",
        "The benchmark side (an eval set — small by definition) broadcasts; "
        "the corpus side is ONE tokenize+explode projection hash-joined "
        "against it (BroadcastHashJoin). No self-join, no shuffle of "
        "corpus text — cost is linear in corpus tokens.",
        OD.decontaminate(docs, docs.where(F.col("doc_id") % 101 == 0), n=8),
    )
    add(
        "Passage-level dedup (keep-first window on passage hash)",
        "The keep-first decision is a row_number window PARTITIONED BY "
        "md5(passage) — the Exchange key is the 32-byte hash (high "
        "cardinality, one tiny group per distinct passage: skew-free by "
        "construction), never the document text. Reassembly groups by "
        "doc_id — two compact-key shuffles total at any corpus size.",
        OD.dedup_passages(docs, n=4),
    )
    add(
        "multi_match combine (per-field searches, ONE hash agg)",
        "Each field contributes its own pushed-down posting scan + kernel; "
        "the combine is a unionByName feeding a single HashAggregate on "
        "doc_id (partial map-side combine) and TakeOrderedAndProject — "
        "the shuffle shape does not grow with the number of fields.",
        multi_match({"a": (idx, 2.0), "b": (idx, 1.0)}, ["spark", "join"], k=10),
    )

    from elasticsearch_assets_spark.operators.percolate import (
        make_queries,
        percolate,
    )

    add(
        "Percolate (stored queries vs corpus, broadcast join)",
        "The stored-query table explodes and BROADCASTS (percolator sets "
        "are KBs–MBs); the corpus tokenizes ONCE into a projection that "
        "hash-joins against it (BroadcastHashJoin), and the only Exchange "
        "carries matched (doc, query) partial counts — map-side combined. "
        "Query count never changes the corpus-side plan.",
        percolate(
            make_queries(spark, [(1, ["spark", "join"], 2), (2, ["scan"], 1)]),
            docs,
        ),
    )
    from elasticsearch_assets_spark.query.engine import combined_fields

    add(
        "combined_fields / BM25F (weighted tf union, ONE hash agg)",
        "Each field's postings ride the same pushed `term IN` segment "
        "scan as search, decoded to (term, doc, tf) rows; the cross-field "
        "combine is a unionByName into ONE HashAggregate on (term, doc) "
        "(map-side partial), df_c a second agg over the same exchange, "
        "dl_c a column-pruned corpus projection (persist a doclens "
        "sidecar at 100 TB). No per-field rescans, no driver work.",
        combined_fields(
            {"text": (idx, 1.0)}, docs, {"text": "text"},
            ["spark", "join"], k=10,
        ),
    )
    add(
        "geohash_grid agg (portable cell expression, one grouped pass)",
        "The geohash cell is a pure column expression (floor/%/substr — "
        "whole-stage codegen), so the agg is scan → project → "
        "HashAggregate with map-side partials; the Exchange carries "
        "(cell, partial_count) pairs bounded by the grid, never raw "
        "coordinates.",
        OFA.facet_geohash_grid(
            ev.select("event_id"), ev.select(
                "event_id",
                (F.col("event_id") % 160 - 80).cast("double").alias("lat"),
                (F.col("event_id") % 340 - 170).cast("double").alias("lon"),
            ), "lat", "lon", precision=4, id_col="event_id",
        ),
    )
    add(
        "PII scrub (map-only, zero shuffle)",
        "Chained regexp_count/regexp_replace column expressions over the "
        "reading scan — the plan has NO Exchange; scrubbing 100 TB is "
        "embarrassingly parallel.",
        __import__(
            "elasticsearch_assets_spark.operators.textstats",
            fromlist=["pii_scrub"],
        ).pii_scrub(docs),
    )
    add(
        "cumulative_cardinality (first-bucket trick, no distinct-union)",
        "A key contributes at its FIRST bucket: one grouped min() per key "
        "(partial-agg), a count per bucket, and a cumulative window over "
        "the BUCKET series only — the plan never builds per-bucket "
        "distinct sets, so state is O(buckets), not O(keys × buckets).",
        OFA.facet_cumulative_cardinality(
            ev.select("event_id"), ev, "ts", "user_id", "day",
            id_col="event_id",
        ),
    )

    add(
        "_msearch fused multi-query scan",
        "M queries, ONE segment scan: the pushed `term IN` carries the "
        "UNION of all queries' terms into a single FlatMapGroupsInPandas "
        "(postings decoded once per segment, every query's kernel over "
        "the same dict); the per-query global cut is a window rank over "
        "<= segments x k x M rows — no second scan, no raw-posting "
        "shuffle. At 10^12 docs M queries cost ~1 scan instead of M.",
        idx.msearch(
            [{"query": ["spark", "join"], "k": 5},
             {"query": ["hash"], "mode": "or", "k": 5}]
        ),
    )
    add(
        "sparse_vector / text_expansion scoring",
        "The weighted-token dot product rides the SAME pushed `term IN` "
        "scan (decode kernel), then ONE hash aggregate on doc_id — "
        "HashAggregate appears twice (map-side partial + final), and the "
        "global top-k is TakeOrderedAndProject, never a full sort.",
        idx.search_sparse({"spark": 1.0, "join": 0.5}, k=10),
    )
    add(
        "int8-quantized ANN (quantized cosine top-k)",
        "Quantization and the integer dot/norm sums are JVM array lambdas "
        "inside the projection over the scan — NO Exchange anywhere in "
        "the plan; the only gather is TakeOrderedAndProject. The same "
        "shape as float cosine_topk on quarter-width data.",
        __import__(
            "elasticsearch_assets_spark.operators.similarity",
            fromlist=["quantized_cosine_topk"],
        ).quantized_cosine_topk(emb, [0.1] * 64, k=10),
    )
    add(
        "Deterministic mixture sampling (zero shuffle)",
        "The md5 hex-prefix cut compiles to a Filter directly over the "
        "scan — the plan has NO Exchange; sampling 100 TB is "
        "embarrassingly parallel and exactly reproducible (hash-cut, not "
        "rand()).",
        __import__(
            "elasticsearch_assets_spark.operators.sampling",
            fromlist=["stratified_sample"],
        ).stratified_sample(docs, "lang", {"en": 0.5}, default_rate=0.1),
    )

    add(
        "ES|QL pipe (WHERE + EVAL + STATS BY + SORT + LIMIT)",
        "The whole pipe is ONE Catalyst plan: the WHERE predicate reaches "
        "PushedFilters on the scan, STATS is a partial-aggregated "
        "HashAggregate pair, and SORT+LIMIT collapses to "
        "TakeOrderedAndProject — a pipe language with zero interpretive "
        "overhead at execution time.",
        __import__(
            "elasticsearch_assets_spark.query.esql", fromlist=["esql"]
        ).esql(
            "FROM events | WHERE event_type == 'click'"
            " | EVAL day = date_format(ts, 'yyyy-MM-dd')"
            " | STATS n = count(*) BY day | SORT day | LIMIT 10",
            spark=spark, sf_dir=SF,
        ),
    )
    add(
        "Sequence packing (distributed prefix sum)",
        "The global token offset never needs a single-partition window: "
        "the emitted plan shows exactly one BroadcastExchange (the "
        "O(buckets) offset table) and one bucket-keyed Exchange feeding "
        "the Window — per-partition window state is bounded by the "
        "bucket width at any corpus size (the subtotal aggregate ran at "
        "planning time, one row per bucket).",
        __import__(
            "elasticsearch_assets_spark.operators.packing",
            fromlist=["pack_documents"],
        ).pack_documents(docs, 2048, bucket_width=100),
    )
    add(
        "Deterministic upsampling (zero shuffle)",
        "The per-row copy count is one JVM expression over the scan and "
        "the replication is a Generate (posexplode) — NO Exchange; "
        "upsampling 100 TB is map-only and exactly reproducible.",
        __import__(
            "elasticsearch_assets_spark.operators.sampling",
            fromlist=["upsample"],
        ).upsample(docs, "lang", {"en": 2.5}, default_rate=1.0),
    )
    add(
        "Banded-LSH embedding near-dup (key-only candidate join)",
        "Candidate generation joins KEY-ONLY projections on (table, "
        "code) — vectors never ride the candidate shuffle; they join "
        "back only for the bounded verify set. The plan shows the "
        "narrow id/t/c exchange and the two vector fetch joins after "
        "the distinct.",
        __import__(
            "elasticsearch_assets_spark.operators.similarity",
            fromlist=["lsh_neardup_pairs"],
        ).lsh_neardup_pairs(emb, tau=0.45, n_planes=4, n_tables=4),
    )
    add(
        "EQL sequence (one window pass)",
        "The earliest-following-match columns are ONE Window over the "
        "per-key sort — a single Exchange on the sequence key; no "
        "self-join for two-step sequences.",
        __import__(
            "elasticsearch_assets_spark.operators.sequences",
            fromlist=["eql_sequence"],
        ).eql_sequence(
            ev, "user_id",
            ["event_type = 'view'", "event_type = 'error'"], 3600,
        ),
    )

    from elasticsearch_assets_spark.operators import similarity as OS

    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    add(
        "Binary-quantized ANN (BBQ: hamming prefilter + exact rerank)",
        "Stage 1 is a pure projection over the scan (the packed sign "
        "code + one bit_count — 8 bytes of distance state per vector) "
        "cut by TakeOrderedAndProject(rerank); stage 2 re-scores only "
        "the rerank rows. NO Exchange anywhere in the plan.",
        OS.ann_topk_binary(emb, qv, k=10, rerank=64),
    )
    add(
        "SemDeDup (cluster-bounded pair generation)",
        "Every wide operation is keyed on the centroid assignment (the "
        "pair join + its sort) or on the duplicate-id set (distinct + "
        "broadcast back) — pair expansion is bounded per key by cluster "
        "size, never corpus-wide, and the dup set rides a "
        "BroadcastExchange. Assignment and centroid-cosine are "
        "codegen'd column chains over the scan.",
        OS.semdedup(emb, n_centroids=8, threshold=0.45),
    )
    add(
        "Ingest pipeline (processor chain fuses into one stage)",
        "Nine ES processors compile to a single Project (+ one Filter "
        "for drop) over the scan — the whole pipeline is one "
        "WholeStageCodegen span; no Exchange, no Python workers.",
        __import__(
            "elasticsearch_assets_spark.sinks.ingest",
            fromlist=["run_pipeline"],
        ).run_pipeline(ev, [
            {"set": {"field": "tag", "value": "v1"}},
            {"gsub": {"field": "event_type", "pattern": "[aeiou]",
                      "replacement": "_", "target_field": "etg"}},
            {"script": {"target_field": "v2", "source": "value * value"}},
            {"convert": {"field": "user_id", "type": "string",
                         "target_field": "uid"}},
            {"fingerprint": {"fields": ["event_id", "event_type"]}},
            {"drop": {"if": "event_type = 'error'"}},
        ]),
    )
    add(
        "Gopher rules / C4 cleaning (zero-shuffle curation)",
        "Word/line array higher-order functions over the scan — one "
        "Project, no Exchange; text never shuffles. The 100 TB cost is "
        "exactly one pass over the corpus.",
        __import__(
            "elasticsearch_assets_spark.operators.textstats",
            fromlist=["gopher_rules"],
        ).gopher_rules(docs),
    )

    _ts = __import__(
        "elasticsearch_assets_spark.operators.textstats",
        fromlist=["dsir_importance", "ccnet_buckets", "fertility_stats"],
    )
    add(
        "DSIR importance weights (session 6)",
        "One tokenize+hash scan exploded to (doc, bucket) with the token "
        "array staged in its OWN projection (inlined, the shingle lambda "
        "re-runs the regexp per element — the measured 6x bug); both "
        "distributions from ONE hash agg; the <=B-row ratio table comes "
        "back as a BroadcastHashJoin. No global sort anywhere.",
        _ts.dsir_importance(
            docs.withColumn("_t", F.col("doc_id") % 10 == 0), "_t",
            n_buckets=256,
        ),
    )
    add(
        "CCNet buckets, approx path (session 6)",
        "The 10^12-doc plan: percentile_approx thresholds are ONE "
        "partial-aggregable pass (ObjectHashAggregate) broadcast back — "
        "no Sort operator before the first Exchange, no global "
        "row_number.",
        _ts.ccnet_buckets(docs, thresholds="approx"),
    )
    add(
        "Runtime fields: filter pushes through the projection (session 6)",
        "A WHERE on a runtime field whose expression folds to a "
        "deterministic input predicate reaches the scan as "
        "PushedFilters — the runtime mapping costs nothing at plan "
        "level (one collapsed Project).",
        __import__(
            "elasticsearch_assets_spark.query.runtime_fields",
            fromlist=["apply_runtime_mappings"],
        ).apply_runtime_mappings(
            docs, {"big": "n_chars > 150"}
        ).where("big"),
    )

    tidx_dir = "/tmp/esa_plan_audit_idx_title"
    if not os.path.exists(os.path.join(tidx_dir, "meta.json")):
        from pyspark.sql import functions as _F

        title = docs.select(
            "doc_id",
            _F.concat_ws(
                " ", _F.slice(_F.split(_F.col("text"), " "), 1, 8)
            ).alias("title"),
        )
        build_index(
            spark, title, tidx_dir, id_col="doc_id", text_col="title",
            num_segments=8, positions=True,
        )
    add(
        "field_masking_span (session 7): two pushed scans, one cogroup",
        "The masked clause's positions come from the OTHER field's "
        "index: both pushed `term IN` scans union and hash-shuffle once "
        "on seg_id (aligned doc_hash geometry) into one "
        "FlatMapGroupsInPandas — no doc-level join, no driver "
        "materialization.",
        pidx.search_span_near_masked(
            __import__(
                "elasticsearch_assets_spark.query.engine",
                fromlist=["InvertedIndex"],
            ).InvertedIndex(spark, tidx_dir),
            ("term", "fast"), ("term", "key"), slop=3, k=10,
        ),
    )
    add(
        "Scroll page (session 7): keyset cursor pushes to the scan",
        "A mid-export scroll batch plans as PushedFilters on the "
        "lexicographic strict-greater cursor predicate + "
        "TakeOrderedAndProject — page N never pays OFFSET's "
        "skip-and-discard, the property that keeps a full-corpus export "
        "O(N) at 10^12 docs.",
        __import__(
            "elasticsearch_assets_spark.sources.scroll",
            fromlist=["scroll_page"],
        ).scroll_page(
            docs.select("doc_id", "n_chars"),
            ["n_chars", "doc_id"], 100, after=(150, 42),
        ),
    )
    add(
        "BPE pair counts (session 7): corpus reduces to vocabulary first",
        "Two hash aggregates (word count, then pair count) with "
        "map-side partials; the pair generation is a JVM transform over "
        "DISTINCT words — no corpus-sized explode, no Python.",
        _ts.bpe_pair_counts(docs, n=20),
    )

    add(
        "ES|QL TS (session 8): two-level time-series agg shares one exchange",
        "The (dims, bucket) hash exchange is planned ONCE and feeds both "
        "the RATE window pass (lag per series per bucket) and the stage-1 "
        "partial hash aggregate; stage 2 re-shuffles only bucket-keyed "
        "aggregate rows. Two exchanges total, both partial-aggregated — "
        "per-series inner math never moves twice.",
        __import__(
            "elasticsearch_assets_spark.query.esql", fromlist=["esql"]
        ).esql(
            "TS m | STATS mr = max(rate(value)),"
            " am = max(avg_over_time(value)) BY h = BUCKET(ts, 1 hour)",
            tables={"m": ev.withColumn("sid", F.col("user_id") % 5)},
            time_series={
                "m": {"dimensions": ["sid"], "ts": "ts",
                      "tiebreak": "event_id"}
            },
        ),
    )
    add(
        "multi_match cross_fields (session 8): pushed decode, two narrow shuffles",
        "Each field contributes one pushed `term IN` segment scan decoded "
        "to (term, doc, tf, dl) rows — doc lengths ride the posting "
        "blocks, the corpus is never read; blended idfs fold to literal "
        "CASE maps. The union aggregates per (term, doc) then per doc, "
        "both partial-aggregated; no broadcast, no corpus join.",
        __import__(
            "elasticsearch_assets_spark.query.engine",
            fromlist=["cross_fields"],
        ).cross_fields(
            {"text": (idx, 1.0)}, ["spark", "join"], k=10, tie_breaker=0.3,
        ),
    )

    # --- session 9 -------------------------------------------------------
    docs_pf = docs.where(F.col("doc_id") % 5 == 1)
    add(
        "post_filter (one scored scan feeds hits AND the agg-side total)",
        "The hit side is a semi join against the filter ids followed by "
        "TakeOrderedAndProject; the unfiltered match total attaches as a "
        "1-row broadcast (BroadcastNestedLoopJoin over an aggregate of the "
        "same scored plan) — no driver collect, no second corpus scan "
        "beyond the shared scoring pass.",
        idx.search_post_filter(["spark", "table"], docs_pf, k=10, mode="or"),
    )
    from elasticsearch_assets_spark.operators.similarity import (
        chunk_vectors,
        nested_knn,
    )

    qv16 = [float(i % 7 - 3) for i in range(16)]
    add(
        "nested kNN best-passage (zero shuffle before the global top-k)",
        "Per-row JVM max over the passage array + argmax ordinal; the only "
        "wide op is TakeOrderedAndProject — no Exchange before the cut.",
        nested_knn(chunk_vectors(emb, 4), qv16, k=10),
    )
    add(
        "paragraph keep-first dedup (ONE text shuffle)",
        "Paragraph text never fans out as rows: only (hash, id, pos) "
        "triples shuffle for the winner election (min-struct hash agg on "
        "the 32-byte hash — skew-free), winners re-key into per-doc "
        "position arrays, and the rebuild is an index-aware array filter "
        "joined back to the original row — exactly one Exchange touches "
        "text (the keep_pos join), no window, no per-row Python.",
        OD.paragraph_dedup(
            docs.select(
                "doc_id",
                F.regexp_replace("text", " a ", ".\n").alias("text"),
            )
        ),
    )
    from elasticsearch_assets_spark.operators.mining import ict_pairs

    add(
        "ICT pair generation (map-only)",
        "Pure array expressions over one corpus scan — the plan has no "
        "Exchange at all (the cheapest possible 10^12-doc shape).",
        ict_pairs(
            docs.select(
                "doc_id",
                F.regexp_replace("text", " a ", ".\n").alias("text"),
            )
        ),
    )

    # --- session 10 ------------------------------------------------------
    from elasticsearch_assets_spark.operators.bpe import bpe_apply
    from elasticsearch_assets_spark.operators.facets import facet_terms_sharded
    from elasticsearch_assets_spark.operators.sampling import cap_per_host
    from elasticsearch_assets_spark.operators.semantic import semantic_topk

    add(
        "BPE application (zero shuffle)",
        "The learned merge list compiles to a chain of per-word JVM folds "
        "inside ONE projection — no Exchange: tokenizing 10^12 docs with a "
        "trained tokenizer is a pure map.",
        bpe_apply(docs, [("t", "h"), ("th", "e")]),
    )
    add(
        "semantic stand-in embedding + rank (zero shuffle before top-k)",
        "Embedding is a staged-struct projection (one md5 pair per token, "
        "dim integer folds); the only wide op is TakeOrderedAndProject. "
        "Swapping the projection for mapInPandas model inference keeps the "
        "plan shape.",
        semantic_topk(docs, "spark join table", k=10),
    )
    add(
        "sharded terms agg (coordinator work bounded by shards x shard_size)",
        "Per-shard counts partial-aggregate map-side; the per-shard top cut "
        "is a window over (shard, bucket) count rows; everything after the "
        "cut (floors, merge, error bound) runs over <= shards x shard_size "
        "rows regardless of bucket cardinality.",
        facet_terms_sharded(docs, "lang", 3, n_shards=4, shard_size=3),
    )
    add(
        "per-host cap (ONE host-keyed shuffle)",
        "A single row_number window keyed by host — one Exchange, no joins; "
        "the deterministic md5 draw makes survivors replayable.",
        cap_per_host(
            docs.withColumn("host", F.concat(F.lit("h"), F.col("doc_id") % 50)),
            "host", 2,
        ),
    )

    np_dir = "/tmp/esa_plan_audit_idx_passages"
    if not os.path.exists(os.path.join(np_dir, "meta.json")):
        from elasticsearch_assets_spark.operators.relations import (
            passage_corpus,
        )

        build_index(
            spark, passage_corpus(docs, n=20, slot_base=16), np_dir,
            num_segments=8,
        )
    from elasticsearch_assets_spark.query.dsl import search_dsl as _sdsl
    from elasticsearch_assets_spark.query.engine import (
        InvertedIndex as _II,
    )

    add(
        "nested query roll-up (session 13): child postings -> one parent agg",
        "The child index's pushed `term IN` scan feeds the per-passage "
        "BM25 kernel; the parent roll-up is ONE hash aggregate on the "
        "derived `doc_id div slot_base` key (map-side partials over "
        "matching children only) + TakeOrderedAndProject — no join "
        "against the parent corpus, nothing corpus-wide.",
        _sdsl(
            idx,
            {"query": {"nested": {
                "path": "passages",
                "query": {"match": {"text": "spark table"}},
                "score_mode": "max",
            }}, "size": 10},
            nested_paths={"passages": (_II(spark, np_dir), 16)},
        ),
    )
    add(
        "LSH near-dup verify (session 13): batch matmul after key-only join",
        "Candidates shuffle as (table, code, id) keys; vectors join back "
        "only for the candidate set, and the cosine verify is ONE "
        "mapInPandas (ArrowEvalPython) over the joined frame — no "
        "interpreted per-element fold per pair.",
        __import__(
            "elasticsearch_assets_spark.operators.similarity",
            fromlist=["lsh_neardup_pairs"],
        ).lsh_neardup_pairs(emb, tau=0.45, n_planes=4, n_tables=4),
    )

    from elasticsearch_assets_spark.index.build import (
        SEGMENT_SCHEMA,
        build_sayt_index,
    )
    from elasticsearch_assets_spark.index.merge import _purge_cogroup
    from elasticsearch_assets_spark.index.tombstones import (
        add_tombstones,
        clear_tombstones,
        tombstones_df,
    )

    sayt_dir = "/tmp/esa_plan_audit_sayt"
    if not os.path.exists(os.path.join(sayt_dir, "meta.json")):
        build_sayt_index(spark, docs, sayt_dir, num_segments=4)
    idx.attach_sayt(InvertedIndex(spark, sayt_dir), 2, 4)
    add(
        "Sayt prefix lookup (round 4): one posting scan, no dictionary job",
        "The attached edge-ngram companion answers an in-window prefix as "
        "a TERM query: the plan is exactly the single-term search shape — "
        "pushed `term IN` scan + per-segment kernel + "
        "TakeOrderedAndProject — with NO stats-table expansion scan "
        "anywhere (contrast search_prefix, whose first job enumerates the "
        "dictionary).",
        idx.search_prefix_sayt("spa", k=10),
    )

    from elasticsearch_assets_spark.query.dsl import aggs_dsl, search_dsl

    add(
        "Sayt auto-route (round 5): DSL prefix body lands on the companion",
        "A plain `{\"prefix\": ...}` body on a sayt-attached index compiles "
        "to the SAME one-posting-lookup plan as the explicit "
        "search_prefix_sayt call (pushed `term =` scan on the companion, "
        "no dictionary expansion job) — the ES index_prefixes transparent "
        "rewrite is the default route, not an opt-in.",
        search_dsl(idx, {"query": {"prefix": {"text": "spa"}}, "size": 10}),
    )
    add(
        "Aggregation tree (round 5): n levels, ONE rollup shuffle",
        "A 2-level terms>terms tree with a metric child executes as "
        "Expand (the grouping sets) -> partial HashAggregate (map-side "
        "combine collapses the Expand multiplier to bucket cardinality) "
        "-> ONE Exchange -> final HashAggregate; the grouping-set filter "
        "(`spark_grouping_id = 0`) is pushed BELOW the aggregate, so each "
        "emitted frame shuffles only its own set. No per-level scans, no "
        "joins in the aggregation itself.",
        aggs_dsl(
            {"bylang": {"terms": {"field": "lang"}, "aggs": {
                "bysource": {"terms": {"field": "source"}, "aggs": {
                    "chars": {"avg": {"field": "n_chars"}}}}}}},
            docs.select("doc_id"), docs,
        )["bylang>bysource"],
    )
    add(
        "Fused type-ahead compound (round 5): one union scan, one python stage",
        "match_bool_prefix_sayt(fused=True): the main and companion "
        "segment scans union into ONE FlatMapGroupsInPandas keyed "
        "(source, seg) — each group scores with its own index's stats — "
        "then one doc-level hash aggregate. The two-plan path ran two "
        "separate grouped python stages.",
        idx.match_bool_prefix_sayt("data spa", k=10),
    )

    add_tombstones(cidx_dir, [1, 2, 3])
    purge_src = spark.read.parquet(os.path.join(cidx_dir, "segments")).withColumn(
        "seg_id", F.pmod(F.col("seg_id"), F.lit(4)).cast("int")
    )
    add(
        "Distributed tombstone purge (round 4): cogrouped anti-set",
        "Above the broadcast cap the purge's exclusion ids route to their "
        "segment via the seg_map residue table, replicate across term-hash "
        "bands, and meet the segment rows in FlatMapCoGroupsInPandas — no "
        "driver materialization and no broadcast of the tombstone set in "
        "the plan; only 8-byte ids shuffle.",
        _purge_cogroup(
            spark, purge_src, cidx_dir, 4, 8, SEGMENT_SCHEMA,
            tombstones_df(spark, cidx_dir),
        ),
    )
    clear_tombstones(cidx_dir)

    out = ["# Physical-plan audit (generated by scripts/explain_audit.py)\n"]
    out.append(
        "Evidence that the load-bearing plans have the shape the 100 TB "
        "design claims. Regenerate after engine changes; review the diff.\n"
    )
    out.append(PLACEMENT_NOTE)
    for title, claim, plan in sections:
        # the field-masking key prefix is a literal NUL byte — escape it
        # so PLANS.md stays a text file
        plan = plan.replace("\x00", "\\x00")
        out.append(f"## {title}\n\n{claim}\n\n```\n{plan}\n```\n")
    os.makedirs(os.path.join(REPO, "docs"), exist_ok=True)
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
