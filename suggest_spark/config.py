"""Index configuration.

Mirrors the reference IndexDescription (reference: pkg/suggest/config.go:25-35):
a frozen, explicit schema — nGramSize, alphabet, pad and wrap are fixed per
index, never inferred.  The alphabet is declared as a list of named groups
and/or literal character strings (reference: pkg/alphabet/alphabet.go:14-36).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

#: Named alphabets (reference: pkg/alphabet/english_alphabet.go:9-13,
#: russian_alphabet.go:9-22 — note 'ё' is accepted by the russian alphabet,
#: number_alphabet.go:9-13).
_NAMED_ALPHABETS = {
    "english": "a-z",
    # russian: а-я plus ё (Has('ё') delegates to Has('е') in the reference)
    "russian": "а-яё",
    "numbers": "0-9",
}

_REGEX_SPECIALS = set("\\^]$.|?*+()[{-")


def _escape_for_char_class(chars: str) -> str:
    return "".join("\\" + c if c in _REGEX_SPECIALS else c for c in chars)


def char_class(groups: tuple[str, ...]) -> str:
    """Regex character-class body for a list of named groups / literal
    strings (reference: pkg/alphabet/alphabet.go:14-36 CreateAlphabet)."""
    parts = []
    for group in groups:
        if group in _NAMED_ALPHABETS:
            parts.append(_NAMED_ALPHABETS[group])
        else:
            parts.append(_escape_for_char_class(group))
    return "".join(parts)


@functools.cache
def allowed_char_set(groups: tuple[str, ...]) -> frozenset[str]:
    """Materialized allowed-rune set for a tuple of alphabet groups — cached:
    the pure-Python tokenizer asks for it on every call."""
    chars: set[str] = set()
    for group in groups:
        if group == "english":
            chars.update(chr(c) for c in range(ord("a"), ord("z") + 1))
        elif group == "russian":
            chars.update(chr(c) for c in range(ord("а"), ord("я") + 1))
            chars.add("ё")
        elif group == "numbers":
            chars.update(chr(c) for c in range(ord("0"), ord("9") + 1))
        else:
            chars.update(group)
    return frozenset(chars)


@dataclass(frozen=True)
class IndexConfig:
    """Configuration of one n-gram index (reference: pkg/suggest/config.go:25-35)."""

    ngram_size: int = 3
    pad: str = "$"
    wrap: tuple[str, str] = ("$", "$")
    alphabet: tuple[str, ...] = ("english", "russian", "numbers", "$")

    @property
    def alphabet_char_class(self) -> str:
        """Regex character class body matching every allowed rune."""
        return char_class(self.alphabet)

    @property
    def normalize_regex(self) -> str:
        """Regex matching every rune NOT in the alphabet (to be padded).

        Reference: pkg/analysis/normalizer.go:21-37 replaces each rune
        outside the alphabet with the pad symbol.
        """
        return f"[^{self.alphabet_char_class}]"

    @property
    def allowed_chars(self) -> frozenset[str]:
        """Materialized allowed-rune set, for the pure-Python tokenizer."""
        return allowed_char_set(self.alphabet)


#: The reference test configuration (reference: pkg/suggest/ngram_index_test.go:216-223).
DEFAULT_CONFIG = IndexConfig()

#: The example_test.go configuration (english + '$' only,
#: reference: pkg/suggest/example_test.go:31-38).
ENGLISH_CONFIG = IndexConfig(alphabet=("english", "$"))
