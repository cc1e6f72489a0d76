"""Seeded inputs. Each workload's tables are derived from the read-only
fixture tables: the same rows, in a seed-dependent order, split into
`FILES` files at seed-dependent cut points (a fixed file count keeps the
scan task count, which the engine's per-job overhead depends on, the same
for every seed). Every document is also lengthened to a seed-dependent
multiple of itself, drawn from a fixed multiset so the corpus keeps the same
mean length for every seed. Both workloads read the same derived files, and
the program only ever reads those.
"""

import os
import pathlib
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 2
TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def doc_multipliers(n, mean, rng):
    """Per-document length multipliers: mean-2 .. mean+2, equally often,
    in a seeded order."""
    spread = np.arange(mean - 2, mean + 3)
    return rng.permutation(np.resize(spread, n))


def lengthen(table, mean, rng):
    """The long-document transform of ScaleGenLongDocs (each copy k of a
    text is suffixed with ' m<k>'), with a per-document multiplier."""
    mults = doc_multipliers(table.num_rows, mean, rng)
    texts = [" ".join(f"{t} m{k}" for k in range(m))
             for t, m in zip(table.column("text").to_pylist(), mults)]
    table = table.set_column(table.schema.get_field_index("text"), "text",
                             pa.array(texts, pa.string()))
    return table.set_column(table.schema.get_field_index("n_chars"),
                            "n_chars",
                            pa.array([len(t) for t in texts], pa.int64()))


def derive(src, dest, seed, doc_mult):
    """Write the seed's tables under `dest` (once; cached by path)."""
    dest = pathlib.Path(dest)
    if (dest / "DERIVED").is_file():
        return dest
    tmp = dest.with_name(dest.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        table = pq.read_table(pathlib.Path(src) / f"{name}.parquet")
        table = table.take(rng.permutation(table.num_rows))
        if name == "documents" and doc_mult > 1:
            table = lengthen(table, doc_mult, rng)
        out = tmp / f"{name}.parquet"
        out.mkdir(parents=True)
        cuts = np.sort(rng.uniform(0.15, 0.85, FILES - 1)) * table.num_rows
        bounds = [0, *cuts.astype(int), table.num_rows]
        for i in range(FILES):
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           out / f"part-{i:05d}.parquet")
    (tmp / "DERIVED").write_text(f"seed={seed} doc_mult={doc_mult}\n")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    return dest
