"""UNICODE-corpus differential walk (round 9) — non-ASCII text battery.

The documents fixture is ASCII by construction, so the text family's
cross-engine semantics (regex classes, trim sets, length units, case
mapping, tokenization, shingling, hashing) had only ever been
differentially tested on ASCII — while the engines genuinely differ in
this space (Java regex vs RE2, byte- vs char-length functions). This
battery derives a variant fixture whose documents carry CJK tokens,
accented Latin, non-BMP emoji, Cyrillic, and a DECOMPOSED combining
accent (e + U+0301 — the NFC hazard), with n_chars recomputed, and runs
EVERY oracled query against it.

First registry-wide pass: **340/340 green, zero findings** — the
engine's standing disciplines already cover the class:
  - length() is CHARACTER-counting on both engines; byte semantics are
    always spelled octet_length/encode explicitly (q252/q253/q291/q77
    pins from earlier rounds);
  - trim/split/regex character sets are explicit in every oracle pair
    (e.g. q341's whitespace set, q98's vowel class);
  - hashing (md5 / xxhash) operates on UTF-8 bytes identically;
  - the q261 NFC normalizer and q288 script detector were built
    unicode-first with their own oracles.
The battery exists so the NEXT text operator inherits the proof
obligation instead of the assumption.

Gated behind SPARK_GRAFT_UNICODE_SWEEP=1 (~8 min for the registry):

    SPARK_GRAFT_UNICODE_SWEEP=1 python -m pytest tests/test_unicode_input.py -q
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from eclypsium_etl_spark import registry
from eclypsium_etl_spark.io import source_stamp
from eclypsium_etl_spark.schemas import TABLES

from .conftest import SF_CHECK
from .parity import compare, oracle_con

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_UNICODE_SWEEP"),
    reason="set SPARK_GRAFT_UNICODE_SWEEP=1 to run the unicode walk",
)

QUERIES, ORACLE = registry.load_all()


def _unicode_fixture_dir() -> str:
    """documents.text decorated with non-ASCII prefixes by doc_id arm
    (content stays token-structured so tokenizers/shinglers exercise the
    real paths); every other table copied byte-identical."""
    import pandas as pd

    stamp = source_stamp(os.path.join(SF_CHECK, "documents.parquet"))
    out = os.path.join(
        tempfile.gettempdir(),
        "eclypsium_etl_spark",
        f"unicodefx_v1_{os.path.basename(SF_CHECK)}_{stamp}",
    )
    done = os.path.join(out, "_SUCCESS")
    if os.path.exists(done):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    d = pd.read_parquet(os.path.join(SF_CHECK, "documents.parquet"))

    def tx(row):
        t, k = row["text"], row["doc_id"] % 7
        if k == 1:
            return "数据 处理 模型 " + t            # CJK tokens
        if k == 2:
            return "dätä café naïve Müller " + t     # accented Latin
        if k == 3:
            return "👍 " + t + " 🚀"                 # non-BMP emoji
        if k == 4:
            return "данные модель " + t              # Cyrillic
        if k == 5:
            return "école " + t                # DECOMPOSED accent
        return t

    d["text"] = d.apply(tx, axis=1)
    d["n_chars"] = d["text"].str.len()
    d.to_parquet(os.path.join(tmp, "documents.parquet"), index=False)
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(
                os.path.join(SF_CHECK, f"{t}.parquet"),
                os.path.join(tmp, f"{t}.parquet"),
            )
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@pytest.fixture(scope="session")
def unicode_fx() -> str:
    return _unicode_fixture_dir()


@pytest.fixture(scope="session")
def duck_unicode(unicode_fx):
    return oracle_con(unicode_fx)


def test_fixture_actually_non_ascii(duck_unicode):
    n = duck_unicode.execute(
        "SELECT COUNT(*) FROM documents WHERE octet_length(encode(text))"
        " <> length(text)"
    ).fetchone()[0]
    assert n > 0, "unicode fixture contains no multi-byte text"


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_unicode_parity(name, spark, unicode_fx, duck_unicode):
    ok, detail = compare(
        QUERIES[name](spark, unicode_fx), duck_unicode, ORACLE[name]
    )
    assert ok, f"{name} on unicode fixture: {detail}"
