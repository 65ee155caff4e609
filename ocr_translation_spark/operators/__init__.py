from .stage_a_ocr import ocr_distinct_media  # noqa: F401
from .stage_b_boiler import keep_mask, strip_boilerplate, tokenize  # noqa: F401
from .stage_c_translate import translate, translate_spans  # noqa: F401
from .partitioning import salted_repartition  # noqa: F401
from .dedup_cache import dedup_compute_with_cache  # noqa: F401
