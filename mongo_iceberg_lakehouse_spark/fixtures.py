"""Re-creation of the reference's 6-document seed dataset.

Semantics from FIXTURES.md §1 / the reference's airflow/data/BRONZE/
orders.json: 6 order documents across 3 cities, documents 6 carrying
deliberate schema drift (``shipping_address.landmark`` + top-level
``discount``). Golden outputs derived from the reference's executed
notebooks (BASELINE.md): bronze count 6; silver struct
{city,state,zip,country='INDIA'} with landmark dropped; gold report
(Hyderabad, INDIA, 1525.5, 2), (Bangalore, INDIA, 440.0, 3),
(Mumbai, INDIA, 15.99, 1) descending by revenue.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile


def _order(order_id, customer_id, date, status, items, total, city, state,
           zipc, landmark=None, discount=None):
    doc = {
        "order_id": order_id,
        "customer_id": customer_id,
        "order_date": date,
        "status": status,
        "items": [
            {"product_id": p, "product_name": n, "quantity": q, "unit_price": u}
            for p, n, q, u in items
        ],
        "total_amount": total,
        "shipping_address": {"city": city, "state": state, "zip": zipc},
    }
    if landmark is not None:
        doc["shipping_address"]["landmark"] = landmark
    if discount is not None:
        doc["discount"] = discount
    return doc


SEED_ORDERS = [
    _order("ORD-2024-001", "CUST-101", "2024-02-01T08:30:00", "DELIVERED",
           [("P001", "Gaming Laptop", 1, 1200.50), ("P005", "Wireless Mouse", 1, 25.00)],
           1225.50, "Hyderabad", "Telangana", "500081"),
    _order("ORD-2024-002", "CUST-102", "2024-02-02T14:15:00", "PROCESSING",
           [("P003", "Mechanical Keyboard", 2, 45.00)],
           90.00, "Bangalore", "Karnataka", "560001"),
    _order("ORD-2024-003", "CUST-101", "2024-02-03T09:00:00", "SHIPPED",
           [("P002", "Monitor 27-inch", 1, 300.00)],
           300.00, "Hyderabad", "Telangana", "500081"),
    _order("ORD-2024-004", "CUST-103", "2024-02-04T11:45:00", "CANCELLED",
           [("P010", "USB-C Hub", 1, 15.99)],
           15.99, "Mumbai", "Maharashtra", "400001"),
    _order("ORD-2024-005", "CUST-102", "2024-02-05T16:20:00", "DELIVERED",
           [("P005", "Wireless Mouse", 5, 25.00), ("P009", "Mouse Pad", 5, 10.00)],
           175.00, "Bangalore", "Karnataka", "560001"),
    _order("ORD-2024-00600", "CUST-1088", "2024-02-05T16:20:00", "DELIVERED",
           [("P005555", "Wireless Mouse", 5, 25.00), ("P009", "Mouse Pad", 5, 10.00)],
           175.00, "Bangalore", "Karnataka", "560001",
           landmark="more_market", discount=500),
]


def write_seed_json() -> str:
    """Write the seed documents as a JSON array file; returns the path.

    The file is named by a hash of its content under the temp dir and
    written only when absent, so repeated calls share one file. Concurrent
    first calls each write a unique name and ``os.replace`` it onto that
    name: a reader never sees a partly written file."""
    text = json.dumps(SEED_ORDERS, indent=2)
    digest = hashlib.sha256(text.encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"seed_{digest}_orders.json")
    if not os.path.exists(path):
        fd, tmp = tempfile.mkstemp(suffix=".part", dir=os.path.dirname(path))
        with os.fdopen(fd, "w") as out:
            out.write(text)
        os.replace(tmp, path)
    return path
