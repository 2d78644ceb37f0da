"""Workload inputs, generated from the sf0.1 fixture with a seed.

The seed only permutes row order (and, for the multi-file documents
table, which file a row lands in); pipeline outputs must not depend on
it. Generation is cached per (workload, seed) under the output root and
runs outside every measured process.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VERSION = 2

# text_curation: documents multiplied like the core-scaling probe does it
DOC_COPIES = 8
DOC_ID_OFFSET = 10_000_000
DOC_FILES = 32

# Fixture tables each pipeline reads, directly or through a staged
# artifact built from them (the loan CSV from orders and customer; the
# int8, IVF-ADC and postings artifacts from embeddings and documents).
PIPELINE_TABLES = {
    "etl_with_sink": ["orders", "customer"],
    "dedup_window": ["lineitem"],
    "dedup_exact": ["lineitem"],
    "q1_agg": ["lineitem"],
    "q5_join": ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    "join_agg": ["lineitem", "orders"],
    "range_join": ["lineitem", "orders"],
    "asof_join": ["events"],
    "stream_rollup": ["events"],
    "ml_prep_fit": ["orders", "customer"],
    "curation_cascade": ["documents"],
    "dedup_groups": ["documents"],
    "dup_span_strip": ["documents"],
    "repetition_cut": ["documents"],
    "bpe_tokenize": ["documents"],
    "packed_export": ["documents"],
    "embedding_cascade": ["embeddings"],
    "kmeans_train": ["embeddings"],
    "ann_topk": ["embeddings"],
    "ann_int8": ["embeddings"],
    "ann_pq": ["embeddings"],
    "ann_ivfadc": ["embeddings"],
    "ann_refine": ["embeddings"],
    "semantic_decontam_ivf": ["embeddings"],
    "index_topk": ["documents"],
    "impact_topk": ["documents"],
}

WORKLOADS = {
    "tabular_etl": ["etl_with_sink", "dedup_window", "dedup_exact", "dedup_groups", "q1_agg",
                    "q5_join", "join_agg", "range_join", "asof_join", "stream_rollup",
                    "ml_prep_fit"],
    "text_curation": ["curation_cascade", "dedup_groups", "dup_span_strip",
                      "repetition_cut", "bpe_tokenize", "packed_export"],
    "retrieval": ["embedding_cascade", "kmeans_train", "ann_topk", "ann_int8", "ann_pq",
                  "ann_ivfadc", "ann_refine", "semantic_decontam_ivf", "index_topk",
                  "impact_topk"],
}

# Pipelines.stage* calls each workload's pipelines need (set-up)
STAGING = {
    "tabular_etl": ["stageLoanCsv"],
    "text_curation": [],
    "retrieval": ["stageInt8", "stageIndex", "stageIvfAdc"],
}


def multiply_documents(t):
    """DOC_COPIES copies; copy i shifts doc_id by i * DOC_ID_OFFSET and
    appends " rev <i>" to the text, so each document gets DOC_COPIES - 1
    near-duplicates that exact dedup cannot collapse."""
    copies = []
    for i in range(DOC_COPIES):
        ids = pc.add(t.column("doc_id"), pa.scalar(i * DOC_ID_OFFSET, pa.int64()))
        rev = pa.array([str(i)] * t.num_rows, pa.string())
        text = pc.binary_join_element_wise(t.column("text"), "rev", rev, " ",
                                           null_handling="skip")
        c = t.set_column(t.schema.get_field_index("doc_id"), t.schema.field("doc_id"), ids)
        copies.append(c.set_column(c.schema.get_field_index("text"), c.schema.field("text"),
                                   text.cast(pa.string())))
    return pa.concat_tables(copies)


def write_single(t, path):
    # one file, one row group: the fixture's layout (one scan partition)
    pq.write_table(t, path, row_group_size=max(t.num_rows, 1), compression="snappy")


def generate(sf_dir, out_root, workload, seed):
    """Writes the workload's input directory; returns its manifest."""
    d = os.path.join(out_root, f"{workload}-seed{seed}")
    manifest_path = os.path.join(d, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            m = json.load(f)
        if m.get("version") == VERSION:
            return m
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = np.random.default_rng(seed)
    rows = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        if workload == "text_curation" and name == "documents":
            t = multiply_documents(t)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        rows[name] = t.num_rows
        path = os.path.join(d, f"{name}.parquet")
        if workload == "text_curation" and name == "documents":
            os.makedirs(path)
            bounds = np.linspace(0, t.num_rows, DOC_FILES + 1).astype(int)
            for i in range(DOC_FILES):
                write_single(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                             os.path.join(path, f"part-{i:05d}.parquet"))
        else:
            write_single(t, path)
    m = {"version": VERSION, "dir": d, "workload": workload, "seed": seed, "rows": rows,
         "pass_rows": sum(rows[t] for p in WORKLOADS[workload] for t in PIPELINE_TABLES[p])}
    with open(manifest_path, "w") as f:
        json.dump(m, f, indent=1)
    return m
