"""Seeded node snapshot for the serving workloads.

Writes the engine's native snapshot layout (parquet `nodes/` partitioned
by course, `node_files/`, `tag_bank/`), which `WhisperDB.loadNative`
reads, plus `model.tsv` and `model.emb`: the same nodes as text and
their embeddings as little-endian float32 rows, from which the
benchmark's client builds the model it checks responses against.

Ids run from 1 with about 2% gaps; course, subject, author and tags are
skewed (P(rank r) ~ 1/(r+1)); each node links to 1-5 others and carries
a unit-length 64-dim float32 embedding. `run.py` calls `generate`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SUBJECTS = ["Mathematics", "Physics", "Chemistry", "Biology", "History",
            "Literature", "Economics", "Computing"]
AUTHORS = [f"Author_{i:02d}" for i in range(40)]
COURSES = 12
NODES = 20000
TAGS = [f"tag{i:03d}" for i in range(120)]
WORDS = ["intro", "advanced", "notes", "lab", "seminar", "review", "theory",
         "practice", "exam", "project", "lecture", "workshop"]


def zipf(rng, k, n):
    w = 1.0 / np.arange(1, k + 1)
    return rng.choice(k, size=n, p=w / w.sum())


def generate(out, seed):
    n = NODES
    rng = np.random.default_rng(seed)
    ids = np.flatnonzero(rng.random(int(n * 1.1)) >= 0.02)[:n].astype(np.int64) + 1
    course = zipf(rng, COURSES, n) + 1
    subject = [SUBJECTS[i] for i in zipf(rng, len(SUBJECTS), n)]
    author = [AUTHORS[i] for i in zipf(rng, len(AUTHORS), n)]
    w = rng.integers(0, len(WORDS), (n, 2))
    title = [f"{WORDS[a]} {WORDS[b]} {k}" for (a, b), k in zip(w, rng.integers(0, 1000, n))]
    d = rng.integers(0, [12, 28, 24, 60, 60], (n, 5))
    date = [f"2024-{m + 1:02d}-{dd + 1:02d} {h:02d}:{mi:02d}:{s:02d}" for m, dd, h, mi, s in d]
    tag_rank = zipf(rng, len(TAGS), 3 * n)
    n_tags = rng.integers(1, 4, n)
    tags = [list(dict.fromkeys(TAGS[t] for t in tag_rank[3 * i:3 * i + k]))
            for i, k in enumerate(n_tags)]
    targets = ids[rng.integers(0, n, (n, 5))]
    n_links = rng.integers(1, 6, n)
    links = [list(dict.fromkeys(int(t) for t in targets[i, :k] if t != ids[i]))
             for i, k in enumerate(n_links)]
    emb = rng.standard_normal((n, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)

    nodes = pa.table({
        "id": pa.array(ids, pa.int64()),
        "title": title,
        "course": pa.array(course, pa.int32()),
        "subject": subject,
        "description": [""] * n,
        "author": author,
        "date": date,
        "tags": pa.array(tags, pa.list_(pa.string())),
        "storage_path": [""] * n,
        "linkedNodes": pa.array(links, pa.list_(pa.int64())),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
    })
    pq.write_to_dataset(nodes, os.path.join(out, "nodes"), partition_cols=["course"])
    os.makedirs(os.path.join(out, "node_files"))
    pq.write_table(pa.table({"node_id": pa.array([], pa.int64()),
                             "path": pa.array([], pa.string())}),
                   os.path.join(out, "node_files", "part-0.parquet"))
    os.makedirs(os.path.join(out, "tag_bank"))
    pq.write_table(pa.table({"tag": TAGS}), os.path.join(out, "tag_bank", "part-0.parquet"))
    with open(os.path.join(out, "model.tsv"), "w") as f:
        for i in range(n):
            f.write("\t".join([str(ids[i]), title[i], str(course[i]), subject[i], author[i],
                               date[i], ",".join(tags[i]), ",".join(map(str, links[i]))])
                    + "\n")
    emb.astype("<f4").tofile(os.path.join(out, "model.emb"))
