from crawler_spark.frontier.canon import (  # noqa: F401
    canon_expr,
    canonicalize_url,
    extract_outlinks,
    host_expr,
    url_hash_expr,
)
from crawler_spark.frontier.cuckoo import CuckooState  # noqa: F401
from crawler_spark.frontier.seen import BloomState  # noqa: F401
from crawler_spark.frontier.politeness import (  # noqa: F401
    apply_politeness_budget,
    robots_allowed,
)
