from .investigation import (  # noqa: F401
    ADDITIONAL_DATA_MAX_ITEMS,
    LLM_CONTEXT_CHAR_LIMIT,
    InvestigationResult,
    PhasedInvestigationAgent,
    adjust_confidence,
    build_rag_query,
    call_llm_with_retry,
    cap_items,
    extract_metrics,
    format_events_for_llm,
    parse_llm_response,
    truncate_context,
    write_llm_input,
    write_llm_output,
)
from .knowledge_base import CLUSTERS, knowledge_base_text  # noqa: F401
from .retrieval import (  # noqa: F401
    build_corpus_index,
    load_corpus_dir,
    make_retriever,
    retrieve,
)
from .timeline import build_timeline  # noqa: F401
