"""Deterministic generator for the `corpus_scaled` input.

It follows ScaleSmoke's clone rule. Every document is cloned `factor`
times; clone c keeps the original text and gains a clone-unique suffix of
letter tokens, so each original becomes a near-duplicate cluster of
`factor` members. Embeddings are cloned the same way. Ids are offset by
clone * (max id + 1), so they stay unique. The seed only permutes row
order, so every seed gives the same rows and the same query results.
The other tables are linked unchanged from the source directory.

Usage: python3 corpus.py <source sf dir> <output dir> <factor> <seed>
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CLONED = ("documents", "embeddings")
ROW_GROUPS = 16  # lets a scan split into tasks on every core


def source_signature(src):
    h = hashlib.sha256()
    for t in CLONED:
        with open(os.path.join(src, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def clone_suffix(c):
    # letters only: the tokenizer splits on [^a-z]+, so digits would vanish
    # and make the clones exact duplicates
    return " zz q%s q%s q%s" % tuple(chr(ord("a") + (c // 26 ** i) % 26) for i in range(3))


def cloned(table, id_col, factor, text_col=None):
    step = pc.max(table[id_col]).as_py() + 1
    parts = []
    for c in range(factor):
        t = table.set_column(table.schema.get_field_index(id_col), id_col,
                             pc.add(table[id_col], pa.scalar(c * step, table[id_col].type)))
        if text_col:
            t = t.set_column(table.schema.get_field_index(text_col), text_col,
                             pc.binary_join_element_wise(t[text_col], clone_suffix(c), ""))
        parts.append(t)
    return pa.concat_tables(parts).replace_schema_metadata(None)


def generate(src, dst, factor, seed):
    """Write the corpus to `dst` unless a complete copy is already there;
    returns the manifest with the rows and bytes generated."""
    manifest_path = os.path.join(dst, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    manifest = {"factor": factor, "seed": seed, "source_signature": source_signature(src)}
    for name in sorted(os.listdir(src)):
        table = name[: -len(".parquet")]
        out = os.path.join(tmp, name)
        if table not in CLONED:
            shutil.copyfile(os.path.join(src, name), out)
            continue
        t = pq.read_table(os.path.join(src, name))
        t = cloned(t, "doc_id", factor, "text") if table == "documents" else cloned(t, "vec_id", factor)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, out, row_group_size=-(-t.num_rows // ROW_GROUPS))
        manifest[f"{table}_rows"] = t.num_rows
        manifest[f"{table}_bytes"] = os.path.getsize(out)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, dst)
    return manifest


if __name__ == "__main__":
    src, dst, factor, seed = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
    print(json.dumps(generate(src, dst, factor, seed)))
