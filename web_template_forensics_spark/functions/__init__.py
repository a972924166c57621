from .html_udfs import (  # noqa: F401
    extract_text_udf,
    html_class_counts_udf,
)
from .similarity_udfs import seq_ratio_udf  # noqa: F401
from .text_udfs import (  # noqa: F401
    doc_fingerprint_udf,
    quality_score_udf,
    simhash64_udf,
    token_count_udf,
)
