from .html_oracle import (  # noqa: F401
    extract_text,
    parse_html_tree,
    tree_to_json,
)
