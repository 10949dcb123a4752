"""Translation stage core (P6-P8, M14) — network-free by construction.

Parity targets:
  - should_translate_text: src/translator/translate.py:13-25 (skip strings
    that are all punctuation/digits/whitespace) — truth table at
    src/translator/test/test_translate.py:97-121
  - gating should_be_translated: cli/translate_outputs.py:17-26
  - identify_translation_languages: cli/translate_outputs.py:29-47
  - translate_parser_output invariants: src/translator/translate.py:74-112
    (name/description/every block text translated; block language set;
    languages=[target]; translated=True; everything else untouched)

The default translator is the deterministic stub the reference's own tests
mock in (src/translator/test/test_translate.py:12-16):
``f"translated to {lang}: {text}"``. A real client replaces
``stub_translate``; it stays out of the hermetic path.
"""

from __future__ import annotations

import string


def should_translate_text(text: str) -> bool:
    """P8 — exact reference semantics (translate.py:13-25)."""
    if all(
        ch in string.punctuation or ch.isdigit() or ch.isspace() for ch in text
    ):
        return False
    return True


def should_be_translated(translated: bool, source_url: str | None) -> bool:
    """P6 — gate (cli/translate_outputs.py:17-26)."""
    if translated or source_url is None:
        return False
    return True


def identify_translation_languages(
    languages: list[str] | None, target_languages: set[str]
) -> set[str]:
    """P7 — target set minus detected language when exactly one detected
    (cli/translate_outputs.py:29-47)."""
    if languages and len(languages) == 1:
        return target_languages - set(languages)
    return target_languages


def stub_translate(texts: list[str], target_language: str) -> list[str]:
    """Deterministic stub, byte-identical to the reference's test mock."""
    return [f"translated to {target_language}: {t}" for t in texts]


def translate_texts(texts: list[str], target_language: str) -> list[str]:
    """M14 per-text-unit path: P8 skip, else translate.

    (translate.py:45-71 minus the network/retry, which belongs to the
    real client that replaces stub_translate.)
    """
    out: list[str] = []
    pending: list[str] = []
    pending_idx: list[int] = []
    for i, t in enumerate(texts):
        out.append(t)
        if should_translate_text(t):
            pending.append(t)
            pending_idx.append(i)
    if pending:
        translated = stub_translate(pending, target_language)
        for i, t in zip(pending_idx, translated):
            out[i] = t
    return out
