"""Posting compaction: merge the posting fragments of many commits
into one optimally-laid-out commit.

The analogue of Katta's segment merge / optimize
(katta-core/.../node/LuceneIndexMergeManager.java:154-196 addIndexes
+ optimize; CLI tool katta-core/.../tool/index/IndexMergeTool.java:97-161)
and of Iceberg's rewrite_data_files.  Posting blocks are doc-range
aligned, so compaction is a pure re-layout (hash-partition by term,
sort by (term, block_id)), no decode/re-encode needed, and runs at
raw shuffle speed regardless of index size.  NOTE: duplicate
(term, block_id) rows CAN exist across commits — when a commit's doc
count is not a multiple of block_range, the next commit's first docs
share the boundary block_id.  Readers must tolerate this (they do:
codec.score_blocks sums across rows of a group and the WAND upper
bound over-estimates, which is sound); compaction preserves the duplicate
rows rather than merging them.

Docs and the term catalog are untouched (the catalog is already a
global aggregate).  The swap is crash-safe: the new commit dir is
fully written and recorded in the manifest BEFORE old dirs are
removed; a reader that raced the swap sees either layout, both
complete.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from katta_spark.index.build import _dir_bytes, _manifest_dir, load_manifest


def compact_postings(
    spark: SparkSession, index_dir: str, new_commit: str | None = None
) -> dict:
    """Rewrite all posting commits into one.  Returns a report."""
    root = Path(index_dir)
    old_dirs = sorted((root / "postings").glob("commit=*"))
    old_commits = [d.name.split("=", 1)[1] for d in old_dirs]
    if new_commit is None:
        n = sum(1 for c in old_commits if c.startswith("compact"))
        new_commit = f"compact{n}"
    t0 = time.monotonic()

    postings = spark.read.option("basePath", str(root / "postings")).parquet(
        *[str(d) for d in old_dirs]
    )
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out_dir = root / "postings" / f"commit={new_commit}" / "group=0"
    (
        postings.drop("commit", "group")
        .repartition(nparts, "term")
        .sortWithinPartitions("term", "block_id")
        .write.mode("overwrite")
        .parquet(str(out_dir))
    )
    stat = (
        spark.read.parquet(str(out_dir))
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_postings"),
        )
        .first()
    )
    mdir = _manifest_dir(index_dir)
    entry = {
        "commit": new_commit,
        "group": 0,
        "status": "done",
        "n_blocks": int(stat["n_blocks"]),
        "n_postings": int(stat["n_postings"]),
        "bytes": _dir_bytes(out_dir),
        "n_docs_group": 0,
        "wall_s": round(time.monotonic() - t0, 3),
        "lineage": {"compacted_from": old_commits},
    }
    tmp = mdir / f".{new_commit}_g0.json.tmp"
    tmp.write_text(json.dumps(entry, indent=1))
    tmp.rename(mdir / f"{new_commit}_g0.json")

    # old fragments + their manifest entries go away only now
    import shutil

    for d in old_dirs:
        shutil.rmtree(d)
    for m in load_manifest(index_dir):
        if m["commit"] in old_commits:
            (mdir / f"{m['commit']}_g{m['group']}.json").unlink(missing_ok=True)

    stats_path = root / "stats.json"
    stats = json.loads(stats_path.read_text())
    stats["commits"] = sorted(
        {m["commit"] for m in load_manifest(index_dir)}
    )
    stats_path.write_text(json.dumps(stats, indent=1))
    return {
        "new_commit": new_commit,
        "compacted": old_commits,
        "n_blocks": entry["n_blocks"],
        "bytes": entry["bytes"],
        "wall_s": entry["wall_s"],
    }
