"""Fuzz family 22: phash 4x16 banding vs exact Hamming (r7 verdict #9).

multimodal_phash_dedup's candidate join keeps pairs that agree on >= 1 of
four 16-bit bands.  These seeds pin the banding guarantee from BOTH sides:

- LOSSLESS side (asserted): every pair with Hamming <= 3 shares a band —
  pigeonhole, 3 differing bits cannot touch 4 bands — and Hamming-0 pairs
  share all four.  40 seeded corpora with planted <=3-bit perturbations.
- LOSSY side (asserted the other way): a 2-2-2-2 spread of 8 differing
  bits touches every band and MUST escape the candidate join — the
  abstract miss mode the r8 docstring correction documents.  If a future
  banding change (more bands, multi-probe) makes these catchable, this
  test fails and the docstring claim must be re-derived.

Pure-numpy replica of the band rule (bits[16k:16k+16] little-endian per
band, exactly operators/multimodal.py::multimodal_phash_dedup) — no Spark
session, so the family is cheap enough for every CI run.
"""

from __future__ import annotations

import numpy as np
import pytest

pytestmark = pytest.mark.seeded("seed")


def _bands(bits: np.ndarray) -> list[int]:
    """The operator's band packer: 4 bands of 16 little-endian bits."""
    return [int((bits[16 * k : 16 * (k + 1)] << np.arange(16)).sum()) for k in range(4)]


def _shares_band(x: np.ndarray, y: np.ndarray) -> bool:
    return any(a == b for a, b in zip(_bands(x), _bands(y)))


@pytest.mark.parametrize("seed", range(40))
def test_hamming_le3_never_escapes(seed):
    rng = np.random.default_rng(1000 + seed)
    base = (rng.random(64) > 0.5).astype("int64")
    for h in (0, 1, 2, 3):
        flip = rng.choice(64, size=h, replace=False)
        pert = base.copy()
        pert[flip] ^= 1
        assert _shares_band(base, pert), (
            f"seed {seed}: Hamming-{h} pair escaped the 4-band join "
            f"(flipped {sorted(flip.tolist())}) — pigeonhole violated"
        )


@pytest.mark.parametrize("seed", range(40))
def test_hamming_2222_spread_always_escapes(seed):
    """The documented miss mode: 2 flipped bits in EVERY band -> all four
    band codes differ -> the candidate join cannot see the pair, even
    though its Hamming (8) passes the verify gate."""
    rng = np.random.default_rng(2000 + seed)
    base = (rng.random(64) > 0.5).astype("int64")
    pert = base.copy()
    for k in range(4):
        flip = rng.choice(16, size=2, replace=False) + 16 * k
        pert[flip] ^= 1
    assert int((base != pert).sum()) == 8
    assert not _shares_band(base, pert), (
        f"seed {seed}: a 2-2-2-2 spread shared a band — the banding rule "
        "changed; re-derive the docstring guarantee"
    )


@pytest.mark.parametrize("seed", range(40))
def test_random_spread_4to8_caught_iff_some_band_clean(seed):
    """For Hamming 4-8 with RANDOM placement, candidate membership must
    equal 'some band has zero differing bits' — the exact characterization
    (no silent over- or under-matching in the packer)."""
    rng = np.random.default_rng(3000 + seed)
    base = (rng.random(64) > 0.5).astype("int64")
    h = int(rng.integers(4, 9))
    flip = rng.choice(64, size=h, replace=False)
    pert = base.copy()
    pert[flip] ^= 1
    clean_band_exists = any(
        not np.any((flip >= 16 * k) & (flip < 16 * (k + 1))) for k in range(4)
    )
    assert _shares_band(base, pert) == clean_band_exists
