"""Seeded benchmark inputs and their ground truth.

Each workload builds its input from the seed alone, through the public
fixture generator ``cpdd_spark.fixtures.generate``, and returns the turn
table the product reads plus a truth table ``(conv_id, cluster_id, kind)``
the benchmark scores the output against.  The product never sees the truth.

``digest`` fingerprints a generated input.  ``inputs.json`` pins the digest of
every workload at a few canary seeds, so that an edit to the generator that
changes what a workload means is refused instead of silently re-based.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from cpdd_spark.fixtures import FixtureParams, generate


@dataclass(frozen=True)
class Spec:
    """Input sizes for one workload; the ``tiny`` variants feed the smoke run."""

    base_convs: int
    base_turns: int             # trim target for the base corpus, in turns
    boiler_convs: int = 0
    batches: int = 0


# batch_boilerplate: a default-mix base (30% exact, 20% near, 5% substring
# duplicates) plus a block of conversations that open with one of two shared
# system prompts.  The prompt is ~80% of a block conversation's words: enough
# that ~40% of the first prompt's ~500 members agree on any one LSH band,
# which puts over 200 members (the pipeline's default max_band_bucket) into
# single band buckets, while two members' Jaccard (~0.67) stays under
# tau = 0.7, so most candidates fail verification.  The prompt is longer than
# the substring tier's 37-token floor.
# stream_near: a default-mix corpus split into two single-file micro-batches.
# A batch's cost is almost all fixed (~3-4 s on 4 cores, nearly flat in its
# turn count), so two batches keep a drain short enough that a run times
# several drains and reports their median.
SPECS = {
    "batch_boilerplate": Spec(base_convs=180, base_turns=2000, boiler_convs=560),
    "stream_near": Spec(base_convs=320, base_turns=4000, batches=2),
}
TINY = {
    "batch_boilerplate": Spec(base_convs=60, base_turns=800, boiler_convs=30),
    "stream_near": Spec(base_convs=60, base_turns=700, batches=2),
}

PROMPT_WORDS = 45           # shared system-prompt length, in words
PROMPT_WEIGHTS = (0.9, 0.1)
TAIL_WORDS = (9, 12)        # unique tail per conversation, in words
TAIL_TURNS = 2


@dataclass
class Input:
    transcripts: pd.DataFrame   # (conv_id, turn_idx, role, text, tool, ts)
    truth: pd.DataFrame         # (conv_id, cluster_id, kind)
    batches: list[pd.DataFrame] # stream micro-batches; empty for batch loads

    @property
    def convs(self) -> int:
        return len(self.truth)

    @property
    def turns(self) -> int:
        return len(self.transcripts)


def _base(spec: Spec, seed: int, rng: np.random.Generator) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The default-mix corpus, trimmed to ``spec.base_turns`` turns (within a
    few) by dropping whole truth clusters in seeded order.  Conversation
    lengths are heavy-tailed, so without the trim a seed's turn count, which
    a pass's cost follows, would swing by a tenth."""
    fx = generate(FixtureParams(num_convs=spec.base_convs, seed=seed))
    transcripts, truth = fx.transcripts, fx.truth[["conv_id", "cluster_id", "kind"]]
    conv_turns = transcripts["conv_id"].value_counts()
    cluster_turns = conv_turns.reindex(truth["conv_id"]).groupby(truth["cluster_id"].to_numpy()).sum()
    excess, drop = int(conv_turns.sum()) - spec.base_turns, []
    for c in rng.permutation(cluster_turns.index.to_numpy()):
        if excess <= 0:
            break
        if cluster_turns[c] <= excess:
            drop.append(c)
            excess -= int(cluster_turns[c])
    gone = set(truth["conv_id"][truth["cluster_id"].isin(drop)])
    return (
        transcripts[~transcripts["conv_id"].isin(gone)].reset_index(drop=True),
        truth[~truth["conv_id"].isin(gone)].reset_index(drop=True),
    )


def _boilerplate_block(
    transcripts: pd.DataFrame, n: int, rng: np.random.Generator
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``n`` conversations, each a shared system-prompt turn followed by a
    unique tail.  Words come from the base corpus so the block looks like it.
    Truth: members of one prompt form one cluster (they share a run far above
    the substring tier's 37-token floor); kind ``boilerplate``."""
    vocab = np.unique(" ".join(transcripts["text"].iloc[:2000]).split())
    prompts = [
        " ".join(rng.choice(vocab, size=PROMPT_WORDS)) for _ in PROMPT_WEIGHTS
    ]
    which = rng.choice(len(PROMPT_WEIGHTS), size=n, p=PROMPT_WEIGHTS)
    ts0 = pd.Timestamp("2026-02-01").to_datetime64().astype("datetime64[us]")
    rows, truth = [], []
    first: dict[int, str] = {}
    for i in range(n):
        cid = f"conv_b{i:07d}"
        p = int(which[i])
        first.setdefault(p, cid)
        truth.append((cid, first[p], "boilerplate"))
        rows.append((cid, 0, "system", prompts[p], "", ts0))
        n_tail = int(rng.integers(TAIL_WORDS[0], TAIL_WORDS[1] + 1))
        words = rng.choice(vocab, size=n_tail)
        for j, chunk in enumerate(np.array_split(words, TAIL_TURNS), start=1):
            role = "user" if j % 2 else "assistant"
            rows.append((cid, j, role, " ".join(chunk), "", ts0 + np.timedelta64(j, "s")))
    block = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    block = block.astype(
        {"conv_id": "string", "turn_idx": "int32", "role": "string",
         "text": "string", "tool": "string", "ts": "datetime64[us]"}
    )
    return block, pd.DataFrame(truth, columns=["conv_id", "cluster_id", "kind"])


def _micro_batches(
    transcripts: pd.DataFrame, truth: pd.DataFrame, k: int, rng: np.random.Generator
) -> list[pd.DataFrame]:
    """Whole conversations dealt into ``k`` micro-batches by a seeded
    permutation, so each batch carries the corpus mix rather than a run of
    sorted conv_ids that happens to hold only one duplicate kind."""
    ids = truth["conv_id"].to_numpy()[rng.permutation(len(truth))]
    slot = pd.Series(np.arange(len(ids)) % k, index=ids)
    which = slot.reindex(transcripts["conv_id"].to_numpy()).to_numpy()
    return [transcripts[which == b].reset_index(drop=True) for b in range(k)]


def build(workload: str, seed: int, tiny: bool = False) -> Input:
    spec = (TINY if tiny else SPECS)[workload]
    rng = np.random.default_rng([seed, 7919])
    transcripts, truth = _base(spec, seed, rng)
    if spec.boiler_convs:
        block, block_truth = _boilerplate_block(transcripts, spec.boiler_convs, rng)
        transcripts = pd.concat([transcripts, block], ignore_index=True)
        truth = pd.concat([truth, block_truth], ignore_index=True)
        transcripts = transcripts.iloc[rng.permutation(len(transcripts))]
        transcripts = transcripts.reset_index(drop=True)
    batches = _micro_batches(transcripts, truth, spec.batches, rng) if spec.batches else []
    return Input(transcripts, truth, batches)


def digest(inp: Input) -> str:
    """Content digest over the turn rows (in on-disk order), the truth table
    and the micro-batch split."""
    h = hashlib.sha256()
    for frame in (inp.transcripts, inp.truth, *inp.batches):
        h.update(pd.util.hash_pandas_object(frame, index=False).to_numpy().tobytes())
        h.update(b"|")
    return h.hexdigest()


def write(inp: Input, out_dir: str, n_files: int = 16) -> str:
    """Write the input where the product reads it: a multi-file parquet table
    for batch loads, one file per micro-batch for the stream.  Returns the
    directory to point the product at."""
    os.makedirs(out_dir, exist_ok=True)
    if inp.batches:
        for b, part in enumerate(inp.batches):
            part.to_parquet(os.path.join(out_dir, f"batch_{b:04d}.parquet"), index=False)
        return out_dir
    step = -(-len(inp.transcripts) // n_files)
    for i in range(n_files):
        part = inp.transcripts.iloc[i * step : (i + 1) * step]
        if len(part):
            part.to_parquet(os.path.join(out_dir, f"part-{i:04d}.parquet"), index=False)
    return out_dir


def pin(path: str, seeds: range, canaries: tuple[int, ...] = (1,)) -> None:
    """Record convs, turns and digest of every workload at ``seeds``."""
    import json

    pinned = {}
    for workload in SPECS:
        entry: dict = {"canaries": list(canaries)}
        for s in seeds:
            inp = build(workload, s)
            entry[str(s)] = {"convs": inp.convs, "turns": inp.turns, "digest": digest(inp)}
        pinned[workload] = entry
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    # Re-pin after a deliberate change to a workload's inputs, from the root
    # of a checkout:  PYTHONPATH=. python3 perfbench/workloads.py
    pin(os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs.json"), range(0, 64))
