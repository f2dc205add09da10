from batch_public_spark.pipeline.batch_api import (
    TERMINAL_STATES,
    BatchClient,
    MockBatchClient,
    download_results,
    openai_batch_client,
    submit_jsonl_dir,
    wait_for_completion,
)
from batch_public_spark.pipeline.formatter import (
    SYSTEM_PROMPT,
    build_requests,
    request_struct,
    write_jsonl,
)
from batch_public_spark.pipeline.llm import StubTransport, Transport, respond
from batch_public_spark.pipeline.models import ALIASES, CATALOG, resolve
from batch_public_spark.pipeline.orchestrator import NO_TS_FILTER, Orchestrator, RunResult
from batch_public_spark.pipeline.parser import (
    OUTPUT_SCHEMA,
    join_outputs_to_inputs,
    parse_batch_output,
    read_batch_outputs,
)
from batch_public_spark.pipeline.state import JobLedger, WatermarkStore

__all__ = [
    "ALIASES",
    "BatchClient",
    "MockBatchClient",
    "NO_TS_FILTER",
    "TERMINAL_STATES",
    "download_results",
    "openai_batch_client",
    "submit_jsonl_dir",
    "wait_for_completion",
    "OUTPUT_SCHEMA",
    "Orchestrator",
    "RunResult",
    "CATALOG",
    "SYSTEM_PROMPT",
    "StubTransport",
    "Transport",
    "JobLedger",
    "WatermarkStore",
    "build_requests",
    "join_outputs_to_inputs",
    "parse_batch_output",
    "read_batch_outputs",
    "request_struct",
    "resolve",
    "respond",
    "write_jsonl",
]
