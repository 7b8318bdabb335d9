from .agg import ordered_join
from .boxes import (box_area, box_contains, box_intersection, box_intersects,
                    box_struct, box_union_agg)
from .config import ConfigRegistry, read_config_preset

__all__ = ["box_struct", "box_contains", "box_intersects", "box_intersection",
           "box_union_agg", "box_area", "ConfigRegistry", "read_config_preset",
           "ordered_join"]
