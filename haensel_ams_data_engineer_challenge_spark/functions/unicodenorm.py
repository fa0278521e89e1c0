"""Unicode normalization + mojibake repair.

Two documents with identical VISIBLE text can differ bytewise and sail
past every dedup tier:

- NFD vs NFC re-saves ('é' as U+00E9 vs 'e'+U+0301) — editors and
  macOS filesystems NFD-normalize silently;
- invisible formatting characters (zero-width space, BOM-as-ZWNBSP,
  soft hyphens, bidi controls) injected by CMSes and copy-paste;
- double-encoded UTF-8 ("Ã©" for "é", "â€™" for "'") — a legacy
  page decoded via a single-byte fallback (e.g. the WARC ladder's
  Latin-1 last rung) and re-published, the classic crawl mojibake.

:func:`clean_text` is the row-local repair, in order:

1. **mojibake repair**: while the text strictly re-encodes in
   Latin-1 (or CP1252 — the Windows superset whose 0x80-0x9F block
   carries the '€'/''' mojibake markers) AND those bytes strictly
   decode as UTF-8 to something different, the decode is the
   original text.  Strictness is the false-positive guard: genuine
   Latin-1-script text ('café') produces invalid UTF-8 and is left
   alone; pure ASCII round-trips to itself and is left alone.  A
   change always SHRINKS the text (multi-byte sequences collapse),
   so the fixpoint loop terminates; MOJIBAKE_MAX_PASSES bounds the
   pathological case.
2. **NFC normalization** (unicodedata.normalize) — the W3C/WHATWG
   canonical form; NFD, NFC and mixed re-saves of the same text
   collide afterwards.
3. **invisible-character strip**: zero-width space/no-break space,
   word joiner, soft hyphen, bidi embedding/override/isolate
   controls, directional marks, and C0/C1 controls other than
   tab/newline/carriage return.  ZWJ/ZWNJ are KEPT — they are
   semantically load-bearing in emoji sequences and Indic scripts;
   stripping them would corrupt visible text.

The function is idempotent (pytest-pinned with a fuzz sweep):
repaired text no longer matches the repair precondition, NFC and the
strip are idempotent by definition.

:func:`normalize_docs` lifts it over a DataFrame.  ``clean_text`` is
the identity on text made only of tab, LF, CR and printable ASCII, so
a frame whose text is all of that (or null) passes through in the JVM
and plans no Python stage.  Any other frame crosses the Arrow boundary
(unicodedata needs Python — DESIGN.md) once, whole, into a
materialized copy that every later action reads; sending only the
non-plain rows and unioning them back was measured no faster on a
feed with 40% such rows (CHANGES.md).  Row-local, zero shuffles;
``n_chars`` is recomputed when present so the engine-schema invariant
survives.  The streaming ingest applies it ahead of every quality
gate and content dedup tier (streaming/ingest.py
``unicode_normalize``), so an NFD re-save of an admitted document is
rejected by the EXACT tier — no semantic tier required.

Reference analogue: none — the reference ingests CSV/SQLite; this is
crawl-corpus text-seam surface like sources/htmltext.py.
"""

from __future__ import annotations

import re
import unicodedata
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

#: fixpoint bound for nested double-encoding (each pass unwraps one
#: encoding layer; real corpora rarely exceed two).
MOJIBAKE_MAX_PASSES = 3

#: invisible characters stripped by clean_text (module docstring):
#: ZWSP, ZWNBSP/BOM, word joiner, soft hyphen, Mongolian vowel
#: separator, directional marks, bidi embedding/override controls,
#: bidi isolates, and C0/C1 controls minus \t \n \r.
_INVISIBLE = (
    "​﻿⁠­᠎"
    "‎‏‪-‮⁦-⁩"
)
_STRIP_RE = re.compile(
    f"[{_INVISIBLE}\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]"
)


def repair_mojibake(s: str) -> str:
    """Undo double-encoded UTF-8 (module docstring rule 1); returns
    the input unchanged when the strict round-trip doesn't apply."""
    for _ in range(MOJIBAKE_MAX_PASSES):
        out = None
        for enc in ("latin-1", "cp1252"):
            try:
                raw = s.encode(enc)
                decoded = raw.decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                continue
            if decoded != s:
                out = decoded
            break  # encodable: the verdict of this pass is final
        if out is None:
            return s
        s = out
    return s


#: whole-pipeline fixpoint bound: each changing pass strictly shrinks
#: the text (repair collapses multi-byte sequences, the strip removes
#: chars, NFC composition never grows), so convergence is fast; 6
#: covers any real nesting with room.
_CLEAN_MAX_PASSES = 6


def clean_text(s: str) -> str:
    """Mojibake repair -> NFC -> invisible strip, iterated to a
    FIXPOINT (module docstring); idempotent, never raises, '' for ''.

    The fixpoint matters because the three steps feed each other:
    repaired mojibake can itself be NFD ('eÌ' decodes to 'e'+U+0301)
    or invisible ('â€‹' decodes to a zero-width space); the strip can
    join bytes into a NEW repairable sequence ('Ã\\x01™' -> 'Ã™');
    NFC can COMPOSE a mojibake marker ('A'+U+0303+'©' -> 'Ã©').  One
    ordered pass is not idempotent under any ordering — the loop is.
    """
    if not s:
        return s
    for _ in range(_CLEAN_MAX_PASSES):
        t = _STRIP_RE.sub(
            "", unicodedata.normalize("NFC", repair_mojibake(s))
        )
        if t == s:
            break
        s = t
    return s


#: a character ``clean_text`` may change: anything but tab, LF, CR and
#: printable ASCII.  A find, not an anchored ``^[...]*$``: Java's ``$``
#: also matches before a trailing line terminator such as U+0085, a C1
#: control that clean_text strips.
_NON_PLAIN = r"[^\t\n\r -~]"


def normalize_docs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Apply :func:`clean_text` to ``text_col`` (module docstring).
    Schema preserved; ``n_chars`` recomputed when the engine schema
    carries it (the strip can shorten text).

    Probes the frame once, on the driver, for a row outside printable
    ASCII.  With none, the frame passes through in the JVM.  Otherwise
    the whole frame goes through one Arrow stage whose output is
    materialized once, so later actions read the copy instead of
    re-running Python."""
    import pandas as pd

    from ..checkpoint import materialize

    has_n_chars = "n_chars" in df.columns
    needs_python = F.col(text_col).rlike(_NON_PLAIN)
    if df.filter(needs_python).isEmpty():
        if not has_n_chars:
            return df
        field = df.schema["n_chars"]
        n_chars = F.coalesce(F.length(text_col), F.lit(0)).cast(
            field.dataType
        )
        if field.nullable:
            # coalesce() is never null; adding 0 under try_add keeps
            # the value and the declared nullable type (the analyzer
            # folds a when(lit(True), ...) wrapper away)
            n_chars = F.try_add(n_chars, F.lit(0).cast(field.dataType))
        return df.withColumn("n_chars", n_chars)

    def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            cleaned = [
                clean_text(t) if isinstance(t, str) else t
                for t in pdf[text_col]
            ]
            pdf[text_col] = cleaned
            if has_n_chars:
                pdf["n_chars"] = [
                    len(t) if isinstance(t, str) else 0 for t in cleaned
                ]
            yield pdf

    return materialize(df.mapInPandas(_apply, df.schema))
