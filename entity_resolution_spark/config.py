"""Pipeline configuration.

Defaults mirror the reference's published constants
(/root/reference/src/entity_resolution/entity_resolution.py:213 similarity
threshold 80; entity_assignment.py:329 consolidation threshold 0.7;
entity_resolution.py:710-720 weights 0.40/0.35/0.25) so the new engine's
decision points land where the reference's do.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Reference parity constants ------------------------------------------------
DEFAULT_SIMILARITY_THRESHOLD = 80  # entity_resolution.py:213 (0-100 scale)
DEFAULT_CONSOLIDATION_THRESHOLD = 0.7  # entity_assignment.py:329 (0-1 scale)
# entity_resolution.py:710-720: semantic 0.40 / type-compat 0.35 / overlap 0.25.
# Mapped onto the row-matching engine as: content edit-ratio 0.40,
# token-Jaccard 0.35, path Jaro-Winkler 0.25.
WEIGHT_CONTENT_RATIO = 0.40
WEIGHT_TOKEN_JACCARD = 0.35
WEIGHT_PATH_JW = 0.25

DEFAULT_VALIDATION_SAMPLE = 1000  # entity_resolution.py:570
DEFAULT_VALIDATION_SEED = 42  # entity_resolution.py:674-681


@dataclass(frozen=True)
class MinHashConfig:
    """Seeded MinHash-LSH parameters.

    b=16 bands x r=8 rows = 128 hashes; s-curve threshold
    (1/b)^(1/r) ~= 0.707 Jaccard — tuned so whitespace/comment variants
    (Jaccard >~ 0.8) land in >=1 shared band with probability > 0.999.
    """

    num_hashes: int = 128
    bands: int = 16
    shingle_k: int = 5  # character-shingle width
    seed: int = 42

    @property
    def rows_per_band(self) -> int:
        assert self.num_hashes % self.bands == 0
        return self.num_hashes // self.bands


@dataclass(frozen=True)
class PipelineConfig:
    similarity_threshold: int = DEFAULT_SIMILARITY_THRESHOLD
    w_content: float = WEIGHT_CONTENT_RATIO
    w_jaccard: float = WEIGHT_TOKEN_JACCARD
    w_path: float = WEIGHT_PATH_JW
    # Pipeline LSH is precision-tilted (b=8, r=16 -> s-curve ~0.88): the
    # path/pfx/sha key families already cover rename, truncation and exact
    # variants, so MinHash only needs to catch heavy-overlap content — and a
    # loose curve would drown scoring in cross-boilerplate candidates at
    # corpus scale. Corpus-level dedup (operators/dedup.py) keeps the
    # recall-tilted default (b=16, r=8 -> ~0.71).
    minhash: MinHashConfig = field(default_factory=lambda: MinHashConfig(bands=8))
    # blocked self-join limits (operators/candidates.blocked_self_join:
    # pipeline candidates and the dedup operators' band joins)
    max_block_size: int = 2000  # census cap before salted tiling kicks in
    max_salt_groups: int = 64  # ceiling on triangular-tile width per hot block
    block_key_drop_limit: int = 100_000  # stop-key removal; drops logged, never silent
    # per-hot-block candidate budget: blocks whose pair count would exceed
    # this are deterministically hash-thinned to ~the budget (kept fraction
    # logged, never silent — SURVEY.md §4.2). High default: a recall knob
    # that should only fire on pathological corpora.
    max_pairs_per_hot_block: int = 10_000_000
    # content chars per side fed to the edit-ratio kernel. The bit-parallel
    # LCS is O(len_l*len_r/64): one near-identical pair of 1 MB minified
    # bundles costs ~1.6e10 word-ops — a single-pair straggler no amount of
    # partitioning fixes. Pairs with either side over the cap score the
    # edit ratio on the first lev_max_chars normalized chars, clamped to
    # the full-length upper bound 200*min(n_l,n_r)/(n_l+n_r) so truncation
    # can never claim more similarity than the real lengths allow. Pairs
    # under the cap (everything in the reference's domain) are bit-exact
    # fuzz.ratio. Worst-case kernel cost becomes ~1e7 word-ops (~ms).
    lev_max_chars: int = 25_000
    # clustering
    cc_max_iterations: int = 50
