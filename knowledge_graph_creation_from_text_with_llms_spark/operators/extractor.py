"""Extractor: chunks → raw LLM responses, micro-batched.

The reference prompts a causal LLM once per chunk, strictly
sequentially (/root/reference/src/core/Generator/TripleGenerator.py:
117-146, 268-311). Here the model call is a pluggable *backend* behind
one `mapInPandas` iterator UDF: each executor task pulls Arrow batches
(size bounded by spark.sql.execution.arrow.maxRecordsPerBatch), hands
the whole batch of prompts to the backend at once, and yields response
rows. Backends are constructed lazily once per worker (the standard
per-executor singleton pattern) so model weights load once per
executor, not per batch.

Backends shipped:
- RuleBasedBackend: deterministic, dependency-free — emits numbered
  "(subj, pred, obj)" lines from adjacent-token co-occurrence; exists
  so tests/benchmarks run without a GPU while exercising the exact
  response->triple parse contract downstream.
- ReplayBackend: maps chunk text -> a recorded response (used to replay
  the reference's committed LLM outputs for parity testing).
- HFCausalBackend: the real LLM path (transformers), import-gated; same
  prompt template as the reference (TripleGenerator.py:100-115).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame

DEFAULT_SYSTEM_MESSAGE = (
    "You are an information extraction engine. Extract knowledge triples "
    "from the text as lines of (subject, predicate, object)."
)
DEFAULT_PROMPT_TEMPLATE = "Extract triples from the following text:\n{text}"


def format_prompt(text: str, system_message: str = DEFAULT_SYSTEM_MESSAGE,
                  template: str = DEFAULT_PROMPT_TEMPLATE) -> str:
    """Prompt layout of TripleGenerator._generate_prompt
    (TripleGenerator.py:100-115), including its literal 12-space
    indent between system message and user template."""
    return f"""{system_message}
            {template.format(text=text)}"""


class Backend:
    """Batch text-in / text-out contract. Implementations must be
    deterministic given the same batch rows (order-independent)."""

    def generate(self, texts: pd.Series) -> pd.Series:  # pragma: no cover
        raise NotImplementedError


class RuleBasedBackend(Backend):
    """Deterministic stand-in for the LLM: emits one numbered triple
    line per adjacent token pair, in the exact textual shape the
    reference's parser expects (numbered prefix, parens, ', ' seps).
    """

    _tok = re.compile(r"[a-z0-9]+")

    def _one(self, text: str) -> str:
        toks = self._tok.findall((text or "").lower())
        lines = [
            f"{i + 1}. ({toks[i]}, precedes, {toks[i + 1]})"
            for i in range(len(toks) - 1)
        ]
        return "\n".join(lines)

    def generate(self, texts: pd.Series) -> pd.Series:
        return texts.map(self._one)


class ReplayBackend(Backend):
    """Replays recorded responses keyed by exact chunk text (fallback:
    keyed by md5 of text). Missing keys yield empty responses."""

    def __init__(self, responses_by_text: dict[str, str]):
        self._responses = responses_by_text

    def generate(self, texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: self._responses.get(t, ""))


class HFCausalBackend(Backend):  # pragma: no cover - no GPU/weights in CI
    """transformers-based backend mirroring TripleGenerator.py:61-146.
    Import-gated: raises a clear error when transformers/torch are
    absent (they are not installed in this sandbox)."""

    def __init__(self, model_name: str = "microsoft/Phi-3.5-mini-instruct",
                 generate_params: dict | None = None,
                 system_message: str = DEFAULT_SYSTEM_MESSAGE,
                 template: str = DEFAULT_PROMPT_TEMPLATE):
        try:
            import torch  # noqa: F401
            from transformers import AutoModelForCausalLM, AutoTokenizer
        except ImportError as e:
            raise NotImplementedError(
                "HFCausalBackend needs torch+transformers (not bundled); "
                "use RuleBasedBackend or ReplayBackend instead"
            ) from e
        import torch
        self._torch = torch
        self.tokenizer = AutoTokenizer.from_pretrained(model_name)
        # decoder-only generation: batched prompts must be LEFT-padded
        # (right padding corrupts the continuation of shorter prompts)
        self.tokenizer.padding_side = "left"
        if self.tokenizer.pad_token is None:
            self.tokenizer.pad_token = self.tokenizer.eos_token
        self.model = AutoModelForCausalLM.from_pretrained(
            model_name, torch_dtype=torch.bfloat16, low_cpu_mem_usage=True
        )
        self.params = generate_params or {"max_new_tokens": 256, "do_sample": False}
        self.system_message = system_message
        self.template = template

    def generate(self, texts: pd.Series) -> pd.Series:
        outs = []
        prompts = [format_prompt(t, self.system_message, self.template) for t in texts]
        # batched tokenize+generate (the reference is one-at-a-time —
        # batching is the central throughput win of the rebuild)
        enc = self.tokenizer(prompts, return_tensors="pt", padding=True)
        with self._torch.no_grad():
            gen = self.model.generate(**enc, **self.params)
        # strip the prompt by slicing past the input token ids — robust
        # even when decode does not reproduce the prompt text verbatim
        # (the reference strips per-string, ref :140-141, one prompt at
        # a time; with left padding every row's prompt ends at the same
        # offset input_ids.shape[1])
        prompt_len = enc["input_ids"].shape[1]
        for i in range(len(prompts)):
            outs.append(
                self.tokenizer.decode(
                    gen[i][prompt_len:], skip_special_tokens=True
                )
            )
        return pd.Series(outs, index=texts.index)


def extract_responses(
    chunks: DataFrame, backend_factory: Callable[[], Backend]
) -> DataFrame:
    """chunks → raw_responses: the chunk `text` is replaced by the
    backend's `response`. One mapInPandas stage; the backend is built
    once per python worker and fed whole Arrow batches."""
    out_fields = [f"{c} {t}" for c, t in chunks.dtypes if c != "text"]
    schema = ", ".join(out_fields + ["response string"])
    other_cols = [c for c in chunks.columns if c != "text"]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = backend_factory()  # lazy per-worker singleton
        for pdf in batches:
            out = pdf[other_cols].copy()
            out["response"] = backend.generate(pdf["text"])
            yield out

    return chunks.mapInPandas(_run, schema=schema)
