"""Incremental (stateful) streaming KG construction.

The reference parses documents INCREMENTALLY: callers push byte chunks
and the parser buffers partial input until a statement boundary arrives
(raptor_parser_parse_chunk, src/raptor_parse.c:479-537; the N-Triples
chunk parser keeps a partial-line buffer across chunks,
src/ntriples_parse.c:380-470). The streaming analogue over a transcript
stream: a conversation's turns arrive across micro-batches (possibly
late and out of order), a per-conv_id state buffers them, and when the
event-time watermark passes the conversation's last activity plus a gap,
the buffered turns are assembled in turn_idx order and parsed to triples
— ``applyInPandasWithState`` with an event-time timeout.

Late-data semantics: a turn arriving within the gap extends the
conversation's timeout and joins the buffer; a turn arriving after the
conversation was finalized is dropped by the watermark (standard
watermark contract). State survives restarts through the streaming
checkpoint, so a drain-restart-drain sequence emits each conversation
exactly once.

Two operational caveats a deployment must respect:

- The watermark advances per MICRO-BATCH, so input files must arrive in
  rough event-time order (a true stream) OR the drain must cover the
  whole backlog in one batch (``max_files_per_trigger`` >= file count,
  as q_kg_stream_incremental does) OR ``watermark_delay_seconds`` must
  be widened to the backlog's event-time disorder. A historical
  backfill whose files interleave years of event time under
  ``maxFilesPerTrigger=1`` would otherwise silently drop whole
  conversations from later files as late data.
- Parse errors are not re-emitted on the stream (the output schema is
  triples-only, mirroring the batch pipeline's triples table); a
  malformed conversation finalizes to zero triples. Audit drained
  corpora with the batch q_kg_parse_errors gate when error visibility
  is needed.

``windowed_rates`` is the companion monitoring aggregation: triples per
event-time window per syntax, watermarked for late data — the streaming
counterpart of the batch pipeline's counter metrics.
"""

from __future__ import annotations

import os
from typing import Any, Iterable, Iterator, Optional, Tuple

import pandas as pd

#: Versions the STREAMING semantics (gap logic, trigger/timeout rules,
#: assembler behavior). Bump on any change here so cached drained
#: outputs (queries.kg.q_kg_stream_incremental keys its /tmp dir on this)
#: are invalidated — GEN/GRAPH_VERSION only cover synthesis and the
#: batch parse path, not this module.
STREAM_VERSION = 2

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)

# emitted rows: the parse operator's triple columns + conversation id
TRIPLES_OUT_SCHEMA = (
    "conv_id string, subj string, pred string, obj_kind int, "
    "obj_lex string, obj_datatype string, obj_lang string, graph string, "
    "src_format string"
)

# state: accumulated turns as parallel arrays + the doc's format and the
# latest event time seen (epoch seconds) — flat types keep the state
# row encoder trivial
STATE_SCHEMA = (
    "turn_idx array<int>, texts array<string>, tool string, last_sec long"
)


def _finalize(key: str, idxs, texts, tool: str):
    """Assemble buffered turns in turn_idx order and parse — the batch
    pipeline's reassemble+parse collapsed into the state finalizer."""
    from raptor_spark.operators.parse import parse_one

    # tie-break duplicate turn_idx by TEXT, exactly like the batch
    # path's array_sort(struct(turn_idx, text)) (operators/reassemble) —
    # arrival order would make the stream output depend on the
    # micro-batch split and diverge from the batch oracle
    order = sorted(range(len(idxs)), key=lambda i: (idxs[i], texts[i]))
    doc = "".join(texts[i] for i in order)
    try:
        # parse_one records malformed input as error rows (dropped from
        # the OUTPUT; see the module docstring) — but both they and the
        # one-bad-doc-must-not-kill-a-batch kernel-crash guard below are
        # LOGGED to the executor's stderr first, so a drained corpus can
        # be audited for silent parse loss without a separate batch pass
        # (round-6 ADVICE fix for the streaming observability gap)
        triples, _errors = parse_one(doc, tool)
        if _errors:
            import logging

            logging.getLogger("raptor_spark.streaming").warning(
                "stream parse errors conv_id=%s fmt=%s n=%d first=%r",
                key, tool, len(_errors),
                _errors[0].get("message") if _errors else None,
            )
    except Exception as e:
        import logging

        logging.getLogger("raptor_spark.streaming").error(
            "stream parse kernel failure conv_id=%s fmt=%s: %r", key, tool, e
        )
        triples = []
    triples = list(dict.fromkeys(triples))  # per-document dedup
    return pd.DataFrame(
        {
            "conv_id": [key] * len(triples),
            "subj": [t.subj for t in triples],
            "pred": [t.pred for t in triples],
            "obj_kind": [t.obj_kind for t in triples],
            "obj_lex": [t.obj_lex for t in triples],
            "obj_datatype": [t.obj_datatype for t in triples],
            "obj_lang": [t.obj_lang for t in triples],
            "graph": [t.graph for t in triples],
            "src_format": [tool] * len(triples),
        }
    )


def _make_assembler(gap_seconds: int):
    def assemble(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterable[pd.DataFrame]:
        conv_id = key[0]
        if state.hasTimedOut:
            (idxs, texts, tool, _last) = state.get
            state.remove()
            yield _finalize(conv_id, list(idxs), list(texts), tool)
            return
        idxs: list = []
        texts: list = []
        tool = None
        last_sec = 0
        if state.exists:
            (pidx, ptexts, tool, last_sec) = state.get
            idxs = list(pidx)
            texts = list(ptexts)
        for pdf in pdfs:
            for r in pdf.itertuples():
                idxs.append(int(r.turn_idx))
                texts.append(r.text)
                tool = r.tool
                # ts_sec is computed JVM-side (cast ts to long = true UTC
                # epoch seconds); the naive pandas timestamp in r.ts is
                # SESSION-LOCAL, so .timestamp() on it would shift the
                # timeout by the session-timezone offset — earlier than
                # the watermark (a hard error) west of UTC, hours-late
                # finalization east of it
                sec = int(r.ts_sec)
                if sec > last_sec:
                    last_sec = sec
        state.update((idxs, texts, tool, last_sec))
        # finalize when the watermark passes last activity + gap
        state.setTimeoutTimestamp((last_sec + gap_seconds) * 1000)
        yield pd.DataFrame(
            {
                c: []
                for c in (
                    "conv_id subj pred obj_kind obj_lex obj_datatype "
                    "obj_lang graph src_format"
                ).split()
            }
        )

    return assemble


def stream_incremental_kg(
    spark,
    transcripts_path: str,
    out_dir: str,
    gap_seconds: int = 600,
    max_files_per_trigger: int = 1,
    watermark_delay_seconds: Optional[int] = None,
):
    """Stateful streaming: buffer each conversation's turns until its
    event-time gap elapses (per the watermark), then parse and append the
    triples. Drains with Trigger.AvailableNow and returns the terminated
    StreamingQuery; re-running after new files land resumes from the
    checkpointed state.

    ``watermark_delay_seconds`` defaults to ``gap_seconds`` (a live
    stream in rough event-time order); widen it to the input's
    event-time DISORDER when draining a backlog whose files interleave
    older events across micro-batches — see the module docstring."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    delay = (
        gap_seconds
        if watermark_delay_seconds is None
        else watermark_delay_seconds
    )
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(transcripts_path)
        .withWatermark("ts", "%d seconds" % delay)
        # timezone-independent event time for the state function: cast
        # to long is true UTC epoch seconds on any session timezone
        .withColumn("ts_sec", F.col("ts").cast("long"))
    )
    out = (
        stream.groupBy("conv_id")
        .applyInPandasWithState(
            _make_assembler(gap_seconds),
            outputStructType=TRIPLES_OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .filter(F.col("subj").isNotNull())
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "triples"))
        .option(
            "checkpointLocation", os.path.join(out_dir, "_incr_checkpoint")
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def windowed_rates(stream_df, window: str = "5 minutes",
                   late: str = "10 minutes"):
    """Watermarked event-time windowed aggregation: turns and text bytes
    per (window, syntax) — the monitoring-metrics counterpart of the
    batch pipeline's lineage counters. Late rows inside the allowed
    lateness update their window; older ones are dropped."""
    from pyspark.sql import functions as F

    return (
        stream_df.withWatermark("ts", late)
        .groupBy(F.window("ts", window).alias("w"), "tool")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("text_bytes"),
        )
    )
