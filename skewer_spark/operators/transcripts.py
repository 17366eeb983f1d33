"""Conversation-level operators over transcript turns — SFT pair
extraction and per-conversation rollups.

The input is the transcript shape the whole pipeline runs on
(``conv_id, turn_idx, role, text, tool, ts``).  No reference analog
(the reference is a log gateway, reference README.md:1); these are the
training-data-pipeline steps that turn raw agent/conversation logs
into supervised fine-tuning examples.

Scale notes
-----------

``sft_pairs`` has two physically different plans with bit-identical
output (pinned by ``test_sft_pairs_paths_equal``):

* the **window path** (default) — one exchange on ``conv_id``, a
  bounded ``ROWS BETWEEN -k AND -1`` frame collects the context.  The
  right plan when conversations are bounded (real chat logs: ≤ 10^3
  turns), because the frame is O(k) per row and Spark streams the
  partition.  Its failure mode is a single conversation holding a
  macroscopic fraction of all rows — that conv's partition becomes one
  straggler task.
* the **skew-safe path** (``skew_safe=True``) — no per-conversation
  window at all.  A dense per-conv position comes from a two-phase
  distributed prefix count, :func:`_dense_conv_pos`
  (per-(conv, range-bucket) ``row_number`` + base offsets from the
  tiny (conv, bucket) totals frame), then each assistant row explodes
  its ≤ k context positions and equi-joins back on the UNIQUE
  ``(conv, pos)`` key — perfectly distributable regardless of how hot
  one conversation is, at the cost of ~k× join amplification (of keys
  and context positions only: response text bypasses the amplified
  exchanges and joins back once at 1×) plus extra exchanges.  At 10^12
  turns with adversarial skew this is the plan you want; under normal
  skew the window path is cheaper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dense_conv_pos(
    df: DataFrame,
    conv_col: str,
    order_col: str,
    n_buckets: int,
) -> DataFrame:
    """Add ``_pos``: the 1-based rank of each row inside its
    conversation by ``order_col``, computed WITHOUT a per-conversation
    global window (distributed prefix count).

    Buckets are ranges of the GLOBAL order key (broadcast min/max, no
    action), so every (conv, bucket) cell is a contiguous slice of the
    conversation and per-cell ranks + per-conv cumulative cell counts
    reproduce the global per-conv rank exactly — integer arithmetic,
    bit-equal to the naive window for any bucket count.
    """
    bounds = df.agg(
        F.min(order_col).alias("_lo"), F.max(order_col).alias("_hi")
    )
    bucketed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_bkt",
        F.least(
            F.lit(n_buckets - 1),
            F.floor(
                # long arithmetic: an int order key spanning > 2^31 /
                # n_buckets would wrap in the multiply.  The value map
                # is safe HERE because order keys are per-conv turn
                # indexes (small, dense ints); for arbitrary 64-bit id
                # domains use sampled range partitioning instead, as
                # pack_sequences does
                (F.col(order_col).cast("long") - F.col("_lo").cast("long"))
                * F.lit(n_buckets)
                / (F.col("_hi").cast("long") - F.col("_lo").cast("long") + 1)
            ),
        ),
    ).drop("_lo", "_hi")
    rn = F.row_number().over(
        Window.partitionBy(conv_col, "_bkt").orderBy(order_col)
    )
    rows = bucketed.withColumn("_rn", rn)
    cell_counts = rows.groupBy(conv_col, "_bkt").agg(
        F.count("*").alias("_cnt")
    )
    # per-conv running cell offsets: the totals frame has one row per
    # non-empty (conv, bucket) — O(convs · buckets), partitioned by
    # conv so the window parallelizes across conversations
    base = cell_counts.select(
        conv_col,
        "_bkt",
        F.coalesce(
            F.sum("_cnt").over(
                Window.partitionBy(conv_col)
                .orderBy("_bkt")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_base"),
    )
    return rows.join(base, [conv_col, "_bkt"]).withColumn(
        "_pos", (F.col("_base") + F.col("_rn")).cast("long")
    ).drop("_bkt", "_rn", "_base")


def sft_pairs(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    assistant_role: str = "assistant",
    k: int = 5,
    sep: str = "\n",
    skew_safe: bool = False,
    n_buckets: int = 64,
) -> DataFrame:
    """Extract (prompt, response) supervised-fine-tuning pairs.

    For every turn whose role is ``assistant_role``, the response is
    that turn's text and the prompt is the previous ≤ ``k`` turns of
    the same conversation (any role) joined with ``sep``, in turn
    order.  Assistant turns with no preceding context are kept with an
    empty prompt (``n_context = 0``) — dropping conversation openers is
    a downstream policy decision, not an extraction one.

    Returns ``(conv_id, turn_idx, n_context, prompt, response)``.

    See the module docstring for the two physical plans; both are
    deterministic (``order_col`` must be unique per conversation, as
    transcript ``turn_idx`` is).
    """
    if not skew_safe:
        w = (
            Window.partitionBy(conv_col)
            .orderBy(order_col)
            .rowsBetween(-k, -1)
        )
        ctx = F.collect_list(text_col).over(w)
        return (
            df.select(
                conv_col,
                order_col,
                role_col,
                F.col(text_col).alias("response"),
                ctx.alias("_ctx"),
            )
            .filter(F.col(role_col) == assistant_role)
            .select(
                conv_col,
                order_col,
                F.size("_ctx").alias("n_context"),
                F.concat_ws(sep, "_ctx").alias("prompt"),
                "response",
            )
        )

    pos = _dense_conv_pos(
        df.select(conv_col, order_col, role_col, text_col),
        conv_col,
        order_col,
        n_buckets,
    )
    ctx_side = pos.select(
        conv_col, F.col("_pos").alias("_cpos"), F.col(text_col).alias("_ctxt")
    )
    # the response text stays OUT of the exploded/joined path: carrying
    # it as a groupBy key would push every response through the explode,
    # the (conv, _cpos) join exchange, and the aggregate exchange at k×
    # amplification — it is re-attached by ONE final 1× join instead
    targets = pos.filter(F.col(role_col) == assistant_role).select(
        conv_col,
        order_col,
        F.explode_outer(
            F.when(
                F.col("_pos") > 1,
                F.sequence(
                    F.greatest(F.col("_pos") - k, F.lit(1).cast("long")),
                    F.col("_pos") - 1,
                ),
            )
        ).alias("_cpos"),
    )
    joined = targets.join(ctx_side, [conv_col, "_cpos"], "left")
    prompts = joined.groupBy(conv_col, order_col).agg(
        F.count("_ctxt").cast("int").alias("n_context"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.filter(
                        F.collect_list(F.struct("_cpos", "_ctxt")),
                        lambda s: s["_ctxt"].isNotNull(),
                    )
                ),
                lambda s: s["_ctxt"],
            ),
        ).alias("prompt"),
    )
    resp = df.filter(F.col(role_col) == assistant_role).select(
        conv_col, order_col, F.col(text_col).alias("response")
    )
    return prompts.join(resp, [conv_col, order_col]).select(
        conv_col, order_col, "n_context", "prompt", "response"
    )


def conv_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str = "tool",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation rollup: the corpus-triage table a transcript
    pipeline materializes before any selection decision.

    Returns one row per conversation::

        (conv_id, n_turns, n_roles, n_tools, tools,
         first_turn, last_turn, duration_sec, total_chars, max_chars)

    One compact-key aggregate (partial map-side); the per-group
    ``count_distinct``/``collect_set`` are bounded by the role/tool
    dictionary sizes (≤ tens), never by conversation length, so there
    is no grouping-sets-style input expansion to worry about
    (contrast aggregate.py's metrics side-channel, which switches to
    approx_count_distinct for unbounded domains).
    """
    return df.groupBy(conv_col).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.count_distinct(role_col).cast("long").alias("n_roles"),
        F.count_distinct(tool_col).cast("long").alias("n_tools"),
        F.array_join(F.array_sort(F.collect_set(tool_col)), ",").alias(
            "tools"
        ),
        F.min(order_col).alias("first_turn"),
        F.max(order_col).alias("last_turn"),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).cast("long").alias("duration_sec"),
        F.sum(F.length(text_col)).cast("long").alias("total_chars"),
        F.max(F.length(text_col)).cast("long").alias("max_chars"),
    )


def sequence_ngrams(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: list[str] | None = None,
    token_col: str = "role",
    n: int = 3,
    sep: str = ">",
) -> DataFrame:
    """Behavioral n-gram mining: counts of length-``n`` consecutive
    ``token_col`` patterns within each conversation's turn order
    (e.g. role trigrams ``user>assistant>tool`` — the sequence-level
    fingerprint used to spot malformed multi-turn data before SFT
    extraction, or event-type trigrams over a clickstream).

    Returns ``(pattern, n_occurrences)``.

    Scale shape: ``lead()`` over ONE ``partitionBy(conv)`` exchange —
    the frame is O(n) per row and never materializes per-conversation
    arrays; the pattern count is a partial-aggregable groupBy on short
    string keys.  A hot conversation costs one task's sort of its own
    rows (same profile as :func:`conv_stats`), not a join blowup.
    """
    if order_cols is None:
        order_cols = ["turn_idx"]
    w = Window.partitionBy(conv_col).orderBy(*[F.col(c) for c in order_cols])
    parts = [F.col(token_col)] + [
        F.lead(token_col, i).over(w) for i in range(1, n)
    ]
    # EVERY part must be non-null, not just the last lead: concat_ws
    # silently skips nulls, so ['user', NULL, 'tool'] would otherwise
    # count as the pattern 'user>tool' — corrupting counts and diverging
    # from the SQL oracle, where any NULL part nulls the whole || chain
    all_present = parts[0].isNotNull()
    for p in parts[1:]:
        all_present = all_present & p.isNotNull()
    return (
        df.select(
            F.when(
                all_present, F.concat_ws(sep, *parts)
            ).alias("pattern")
        )
        .filter(F.col("pattern").isNotNull())
        .groupBy("pattern")
        .agg(F.count("*").alias("n_occurrences"))
    )


def context_windows(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    k: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """Sliding k-turn training windows: for every position with at
    least ``k - 1`` following turns, the concatenation of the ``k``
    consecutive turn texts (the fixed-context chunking used to cut
    long conversations into bounded training examples with stride 1).

    Returns ``(conv_id, <order_col>, window_text)``.

    One ``partitionBy(conv)`` exchange; the ``ROWS BETWEEN CURRENT ROW
    AND k-1 FOLLOWING`` frame is O(k) per row.  For adversarially hot
    conversations use the join formulation of ``sft_pairs(skew_safe=
    True)`` — same trade documented there.
    """
    w = (
        Window.partitionBy(conv_col)
        .orderBy(order_col)
        .rowsBetween(Window.currentRow, k - 1)
    )
    return (
        df.select(
            F.col(conv_col),
            F.col(order_col),
            F.count("*").over(w).alias("_n"),
            F.array_join(F.collect_list(text_col).over(w), sep).alias(
                "window_text"
            ),
        )
        .filter(F.col("_n") == k)
        .drop("_n")
    )


def thread_turns(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    level_map: dict[str, int] | None = None,
) -> DataFrame:
    """Reconstruct the reply/invocation tree of an agent transcript
    from its flat turn stream: who each turn answers.

    Roles map to LEVELS (default ``user=0 < assistant=1 < tool=2``);
    a turn's parent is the most recent PRECEDING turn of the next
    level up — a tool result hangs off the assistant call that issued
    it, an assistant turn off the user message it answers (tool turns
    fall back to the last user turn when no assistant precedes them —
    never silently dropped).  ``thread_id`` segments the conversation
    by user messages (running count of level-0 turns), giving each
    request/response/tool-trace exchange one id — the unit RLHF
    pair-extraction and agentic-trace datasets are built from.
    Unmapped roles raise: a threading model that silently guesses a
    level fabricates structure.

    Returns ``(conv, turn, role, level, thread_id, parent_turn)``
    (parent NULL for roots).

    Scale shape (the 100 TB contract): one running max-turn aggregate
    PER LEVEL plus the running level-0 count, all over ONE
    conv-partitioned window exchange — no self-join, no recursion: the
    fixed level hierarchy turns tree reconstruction into window
    algebra.  Conversations are task-bounded (the transcript data
    model); deeper hierarchies just extend the level map (the parent
    expression is built per level, so level k genuinely parents to
    k-1 with a coalesce fallback down the chain — not a hardcoded
    3-level special case)."""
    level_map = level_map or {"user": 0, "assistant": 1, "tool": 2}
    levels = sorted(set(level_map.values()))
    if levels[0] != 0 or levels != list(range(len(levels))):
        raise ValueError(
            f"thread_turns: levels must be contiguous from 0, got {levels}"
        )
    expr = None
    for role, level in level_map.items():
        branch = (F.col(role_col) == role, F.lit(level))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    # unmapped roles fail AT EVALUATION (no eager corpus-scan probe —
    # the operator stays lazy like the rest of the package), with the
    # offending role in the message
    level = expr.otherwise(
        F.raise_error(
            F.concat(F.lit("thread_turns: unmapped role "), F.col(role_col))
        ).cast("int")
    )
    base = df.select(
        F.col(conv_col).alias("conv"),
        F.col(order_col).alias("turn"),
        F.col(role_col).alias("role"),
        level.alias("level"),
    )
    prev = (
        Window.partitionBy("conv")
        .orderBy("turn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cur = (
        Window.partitionBy("conv")
        .orderBy("turn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_at = {
        lv: F.max(F.when(F.col("level") == lv, F.col("turn"))).over(prev)
        for lv in levels[:-1]
    }
    turn_type = base.schema["turn"].dataType
    parent = F.when(F.col("level") == 0, F.lit(None).cast(turn_type))
    for lv in levels[1:]:
        # parent of a level-lv turn: last turn at lv-1, falling back
        # down the chain to the conversation root
        fallback = [last_at[j] for j in range(lv - 1, -1, -1)]
        parent = parent.when(F.col("level") == lv, F.coalesce(*fallback))
    thread = F.sum(
        F.when(F.col("level") == 0, 1).otherwise(0)
    ).over(cur)
    return base.select(
        "conv",
        "turn",
        "role",
        "level",
        thread.cast("long").alias("thread_id"),
        parent.alias("parent_turn"),
    )
