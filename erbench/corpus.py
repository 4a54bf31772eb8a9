"""Seeded inputs for the record-linkage benchmark.

Every frame here is a function of (seed, sizes) only, built from the
package's public generator (``entity_resolution_spark.datagen``); the
engine under test sees nothing but the resulting DataFrames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolution_spark.datagen import (
    FILES_SCHEMA,
    MAX_GROUP_SIZE,
    generate_labeled_pairs_pdf,
    generate_repo_files,
    group_files,
)

# ~450 characters: longer than the 256-char pfx: blocking window, so every
# file carrying it lands in one shared pfx: block.
LICENSE_HEADER = "\n".join(
    [
        "# Copyright (c) The Project Authors. All rights reserved.",
        "#",
        "# Licensed under the Apache License, Version 2.0 (the \"License\");",
        "# you may not use this file except in compliance with the License.",
        "# You may obtain a copy of the License at the project root.",
        "#",
        "# Unless required by applicable law or agreed to in writing, software",
        "# distributed under the License is distributed on an \"AS IS\" BASIS,",
        "# WITHOUT WARRANTIES OR CONDITIONS OF ANY KIND, either express or implied.",
        "",
    ]
)

# file ids the benchmark mints itself, far above any generated group's ids
# (group_id * MAX_GROUP_SIZE + member) and apart from each other
VENDORED_ID_BASE = 1 << 40
MIRROR_ID_BASE = 1 << 41


def skewed_files(
    spark: SparkSession,
    seed: int,
    n_groups: int,
    header_every: int,
    vendored_files: int,
    vendored_copies: int,
) -> DataFrame:
    """The plain generator's corpus with two hot-key shapes added.

    - Every file of one group in ``header_every`` (the residue class is
      picked by the seed; the count is fixed, so the hot block's size
      does not vary with the seed) starts with LICENSE_HEADER, which makes
      one pfx: block far larger than a normal block.
    - ``vendored_files`` files, each copied ``vendored_copies`` times under
      ``third_party/`` in other repos: large exact-duplicate stars.
    """
    base = generate_repo_files(spark, n_groups, seed=seed)
    group = F.floor(F.col("file_id") / F.lit(MAX_GROUP_SIZE))
    headered = F.pmod(group, F.lit(header_every)) == seed % header_every
    base = base.withColumn(
        "content",
        F.when(headered, F.concat(F.lit(LICENSE_HEADER), F.col("content"))).otherwise(
            F.col("content")
        ),
    )
    src = base.filter(F.col("file_id").isin(vendored_originals(seed, n_groups, vendored_files)))
    copy = F.col("copy").cast("string")
    copies = src.crossJoin(spark.range(vendored_copies).withColumnRenamed("id", "copy")).select(
        (F.lit(VENDORED_ID_BASE) + F.col("file_id") * vendored_copies + F.col("copy")).alias(
            "file_id"
        ),
        F.concat(F.lit("vendor"), copy, F.lit("/app")).alias("repo"),
        F.concat(F.lit("third_party/"), F.col("path")).alias("path"),
        F.sha1(F.concat(F.col("file_id").cast("string"), F.lit("/"), copy)).alias("commit"),
        "lang",
        "content",
    )
    return base.unionByName(copies)


def vendored_originals(seed: int, n_groups: int, vendored_files: int) -> list[int]:
    """file ids (member 0 of distinct groups) that get vendored copies."""
    rng = np.random.RandomState(seed % (2**31 - 1))
    groups = rng.choice(n_groups, size=vendored_files, replace=False)
    return sorted(int(g) * MAX_GROUP_SIZE for g in groups)


def vendored_pairs(
    seed: int, n_groups: int, vendored_files: int, vendored_copies: int
) -> list[tuple[int, int]]:
    """(original, copy) id pairs of skewed_files' vendored copies."""
    return [
        (fid, VENDORED_ID_BASE + fid * vendored_copies + c)
        for fid in vendored_originals(seed, n_groups, vendored_files)
        for c in range(vendored_copies)
    ]


def labeled_pairs(seed: int, n_groups: int, positives: list[tuple[int, int]]) -> pd.DataFrame:
    """Ground truth: the generator's labeled pairs over groups
    [0, n_groups) plus the given id pairs as matches."""
    labels = generate_labeled_pairs_pdf(n_groups, seed)[["left_id", "right_id", "is_match"]]
    extra = pd.DataFrame(
        [(a, b, True) for a, b in positives], columns=["left_id", "right_id", "is_match"]
    )
    return pd.concat([labels, extra], ignore_index=True)


def delta_rows(
    seed: int, n_groups: int, k: int, new_groups: int, mirrors: int
) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """The k-th stream delta after an ``n_groups`` corpus.

    ``new_groups`` generator groups beyond the corpus and previous deltas,
    plus ``mirrors`` near-copies (new repo, one appended comment line) of
    existing corpus files. Returns the rows and the (original, mirror) id
    pairs, which are true matches.
    """
    first = n_groups + k * new_groups
    rows: list[dict] = []
    for g in range(first, first + new_groups):
        rows.extend(group_files(g, seed))
    rng = np.random.RandomState((seed * 7919 + k) % (2**31 - 1))
    mirrored = []
    for i, g in enumerate(rng.choice(n_groups, size=mirrors, replace=False)):
        orig = group_files(int(g), seed)[0]
        mid = MIRROR_ID_BASE + k * 10_000 + i
        rows.append(
            {
                **orig,
                "file_id": mid,
                "repo": "mirror-" + orig["repo"],
                "commit": f"{mid:040x}",
                "content": orig["content"] + "\n# mirrored from upstream\n",
            }
        )
        mirrored.append((orig["file_id"], mid))
    return pd.DataFrame(rows, columns=[f.name for f in FILES_SCHEMA.fields]), mirrored


def pairwise_f1(labels: pd.DataFrame, clusters: pd.DataFrame) -> float:
    """F1 of "same cluster" predictions over the labeled pairs."""
    cid = dict(zip(clusters["file_id"].tolist(), clusters["cluster_id"].tolist()))
    pred = np.array(
        [
            cid.get(a, ("missing", a)) == cid.get(b, ("missing", b))
            for a, b in zip(labels["left_id"].tolist(), labels["right_id"].tolist())
        ]
    )
    truth = labels["is_match"].to_numpy(dtype=bool)
    tp = int((pred & truth).sum())
    fp = int((pred & ~truth).sum())
    fn = int((~pred & truth).sum())
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0
